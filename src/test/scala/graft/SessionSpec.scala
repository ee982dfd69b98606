package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.pipeline.Ops
import graft.plans.{AsOfJoinExec, BinnedRangeJoinRule}

/** The one registration path: a session the engine did not build (here a
  * `newSession()` clone, which shares the SparkContext but starts with a
  * bare function registry, strategy set and optimizer) gets every native
  * function, the as-of strategy and the range-join rule from
  * `Tables.register` alone; and the source tree keeps one session factory. */
class SessionSpec extends SparkSpec {

  private lazy val fresh = {
    val s = spark.newSession()
    Tables.register(s, sfDir)
    s
  }

  test("Tables.register on a new session resolves all seven native functions") {
    val names = Seq("cosine_similarity", "dot_product", "lsh_codes",
      "bloom_filter_agg", "might_contain", "kmv_agg", "cms_agg")
    names.foreach(n => assert(fresh.catalog.functionExists(n), s"$n does not resolve"))
    val one = "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))"
    val c = fresh.sql(s"SELECT cosine_similarity($one, $one), dot_product($one, $one)").head()
    assert(c.getDouble(0) == 1.0 && c.getDouble(1) == 1.0)
  }

  test("on that session a BETWEEN join with a bin width plans without a nested-loop join") {
    fresh.conf.set(BinnedRangeJoinRule.WidthKey, "250")
    try {
      val df = fresh.sql(
        """SELECT COUNT(*) FROM supplier JOIN customer
          |  ON c_acctbal BETWEEN s_acctbal - 500 AND s_acctbal + 500""".stripMargin)
      val bnlj = df.queryExecution.sparkPlan.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnlj.isEmpty, df.queryExecution.sparkPlan.toString)
    } finally fresh.conf.unset(BinnedRangeJoinRule.WidthKey)
  }

  test("on that session asofJoinNative plans AsOfJoinExec") {
    val left = fresh.range(0, 20).selectExpr("id % 3 AS k", "id AS t")
    val right = fresh.range(0, 20).selectExpr("id % 3 AS k", "id * 2 AS t", "id AS v")
    val out = Ops.asofJoinNative(left, right, "k", "t", Seq("v"))
    val exec = out.queryExecution.sparkPlan.collect { case e: AsOfJoinExec => e }
    assert(exec.nonEmpty, out.queryExecution.sparkPlan.toString)
    assert(out.count() == 20)
  }

  test("src/main has exactly one session builder; src/test has none and no extensions conf") {
    // Split so this file does not match its own needles.
    val builder = "SparkSession." + "builder()"
    val extensions = "spark.sql." + "extensions"
    def sources(root: String): Seq[(Path, String)] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        .map(p => p -> Files.readString(p))
      finally walk.close()
    }
    def count(src: Seq[(Path, String)], needle: String): Seq[(Path, Int)] =
      src.map { case (p, s) => p -> (s.split(Pattern.quote(needle), -1).length - 1) }.filter(_._2 > 0)
    val main = sources("src/main/scala")
    assert(main.nonEmpty)
    assert(count(main, builder).map(_._2).sum == 1, count(main, builder))
    val test = sources("src/test/scala")
    assert(count(test, builder).isEmpty && count(test, extensions).isEmpty,
      count(test, builder) ++ count(test, extensions))
  }
}
