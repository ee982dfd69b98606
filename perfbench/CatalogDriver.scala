package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-JVM driver for the benchmark's `catalog` workload.
  *
  *   CatalogDriver <sfDir> <planFile> <outDir> <trace 0|1>   (plan lines: `<pass> <entry>`)
  *   CatalogDriver --list <outFile>     (entry names and oracle SQL as JSON)
  *
  * Builds a session with `graft.Bench`'s settings, registers the tables and
  * prints `READY <epoch ms> <SparkContext start ms>`. It then times every
  * entry of `planFile`, in order, the way Bench does: the entry function
  * (construction), then `queryExecution.toRdd.foreach` (execution). After
  * each pass-0 (cold) run, outside the timed region, the result is written
  * as one parquet file under `outDir/<name>` for the output check. One JSON
  * record per plan line goes to `outDir/records.jsonl`; the last stdout line is
  * `END {...}` with the residue counts. The driver then waits for stdin to
  * close, so the caller can read the JVM's peak RSS before it exits.
  *
  * With trace=1 a SparkListener and a StreamingQueryListener tally jobs,
  * stages, tasks and task metrics per entry and phase, and each record
  * carries the Catalyst phase times from `QueryExecution.tracker`. */
object CatalogDriver {

  def main(args: Array[String]): Unit = args match {
    case Array("--list", out) =>
      val names = graft.SparkEntry.queries.keys.map(str).mkString("[", ", ", "]")
      val oracles = json(graft.SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> str(v) })
      Files.writeString(Paths.get(out), json(Seq("names" -> names, "oracles" -> oracles)))
    case Array(sfDir, planFile, outDir, traceArg) => run(sfDir, planFile, outDir, traceArg == "1")
  }

  private def run(sfDir: String, planFile: String, outDir: String, trace: Boolean): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    // The same builder settings as graft.Bench.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tally = if (trace) Some(new Tally) else None
    tally.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    graft.Tables.register(spark, sfDir)
    val ready = System.currentTimeMillis()
    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
      k == "spark.cleaner.periodicGC.interval" }
    Files.writeString(Paths.get(outDir, "conf.json"), json(conf.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }))
    println(s"READY $ready ${spark.sparkContext.startTime}")
    System.out.flush()

    val plan = Files.readAllLines(Paths.get(planFile)).asScala.map(_.trim).filter(_.nonEmpty)
      .map(_.split(" ", 2)).map(a => (a(0).toInt, a(1))).toVector
    val queries = graft.SparkEntry.queries
    val records = Files.newBufferedWriter(Paths.get(outDir, "records.jsonl"))
    // Pass 0 runs each entry for the first time in this JVM (cold) and writes
    // its result for the check; pass 1 times the same entries again (warm),
    // as Bench times its passes after an untimed warmup.
    for (((pass, name), i) <- plan.zipWithIndex) {
      val tag = s"$pass:$i"
      tally.foreach(_.mark(spark, s"$tag:construct"))
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var df: DataFrame = null
      val err =
        try {
          df = queries(name)(spark, sfDir)
          t1 = System.nanoTime()
          tally.foreach(_.mark(spark, s"$tag:exec"))
          df.queryExecution.toRdd.foreach(_ => ())
          ""
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val t2 = System.nanoTime()
      tally.foreach(_.mark(spark, "check"))
      val checkErr =
        if (pass > 0 || df == null || err.nonEmpty) ""
        else try { df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); "" }
             catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val constructed = df != null
      val fields = mutable.ArrayBuffer[(String, String)](
        "name" -> str(name), "pass" -> pass.toString, "start_ms" -> w0.toString,
        "construct_s" -> (((if (constructed) t1 else t2) - t0) / 1e9).toString,
        "exec_s" -> ((if (constructed) t2 - t1 else 0L) / 1e9).toString,
        "error" -> str(err), "check_error" -> str(checkErr))
      if (constructed) {
        val phases = df.queryExecution.tracker.phases.map { case (p, s) =>
          p -> json(Seq("start_ms" -> s.startTimeMs.toString, "end_ms" -> s.endTimeMs.toString))
        }
        fields += "phases" -> json(phases.toSeq)
      }
      records.write(json(fields.toSeq)); records.newLine(); records.flush()
    }
    records.close()

    tally.foreach { t =>
      waitForListeners(spark)
      Files.writeString(Paths.get(outDir, "tally.json"), t.toJson)
    }
    val sinkViews = spark.catalog.listTables().collect().count(_.name.startsWith("graft_stream_sink_"))
    println(s"""END {"sink_views": $sinkViews, "queries_left": ${spark.streams.active.length}}""")
    System.out.flush()
    new BufferedReader(new InputStreamReader(System.in)).readLine()
    spark.stop()
  }

  /** Blocks until every listener event posted so far is delivered
    * (`LiveListenerBus.waitUntilEmpty` is package-private, hence reflection). */
  private def waitForListeners(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Per-tag roll-up of scheduler and streaming events. The tag is the phase
  * the driver is in (`<pass>:<entry index>:construct`, `...:exec`, `check`). A job carries its tag as a local property (streaming threads
  * inherit it); a streaming query gets the tag in force at its start time.
  * Every stage and task inherits the tag of its job. */
final class Tally extends SparkListener {
  private val marks = mutable.ArrayBuffer[(Long, String)]((0L, "setup"))

  def mark(spark: SparkSession, t: String): Unit = {
    synchronized { marks += ((System.currentTimeMillis(), t)) }
    spark.sparkContext.setLocalProperty(Tally.Key, t)
  }

  private def tagAt(ms: Long): String = marks.findLast(_._1 <= ms).map(_._2).getOrElse("setup")

  final class Counters {
    var jobs, stages, singleTaskStages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
    var streamQueries, streamTerminated, batches, stateRows = 0L
    var drainMs = 0L
  }

  private val byTag = mutable.Map[String, Counters]()
  private val stageTag = mutable.Map[Int, String]()
  // streaming run id -> (tag, start ms) and end of its last micro-batch
  private val queryTag = mutable.Map[String, (String, Long)]()
  private val lastEnd = mutable.Map[String, Long]()

  private def c(t: String): Counters = byTag.getOrElseUpdate(t, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty(Tally.Key))).getOrElse(tagAt(e.time))
    c(t).jobs += 1
    e.stageIds.foreach(s => stageTag(s) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val k = c(stageTag.getOrElse(e.stageInfo.stageId, "unknown"))
    k.stages += 1
    if (e.stageInfo.numTasks == 1) k.singleTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageTag.getOrElse(e.stageId, "unknown"))
    k.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      k.runMs += m.executorRunTime
      k.cpuNs += m.executorCpuTime
      k.gcMs += m.jvmGCTime
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.peakMem = math.max(k.peakMem, m.peakExecutionMemory)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = Tally.this.synchronized {
      val start = Instant.parse(e.timestamp).toEpochMilli
      val t = tagAt(start)
      c(t).streamQueries += 1
      queryTag(e.runId.toString) = (t, start)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tally.this.synchronized {
      val p = e.progress
      queryTag.get(p.runId.toString).foreach { case (t, start) =>
        val k = c(t)
        k.batches += 1
        k.stateRows += p.stateOperators.map(_.numRowsTotal).sum
        lastEnd(p.runId.toString) = Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = Tally.this.synchronized {
      queryTag.get(e.runId.toString).foreach { case (t, start) =>
        val k = c(t)
        k.streamTerminated += 1
        k.drainMs += lastEnd.getOrElse(e.runId.toString, start) - start
      }
    }
  }

  def toJson: String = synchronized {
    import CatalogDriver.json
    json(byTag.toSeq.sortBy(_._1).map { case (t, k) =>
      t -> json(Seq(
        "jobs" -> k.jobs, "stages" -> k.stages, "single_task_stages" -> k.singleTaskStages,
        "tasks" -> k.tasks, "run_ms" -> k.runMs, "cpu_ns" -> k.cpuNs, "gc_ms" -> k.gcMs,
        "shuffle_read" -> k.shuffleRead, "shuffle_write" -> k.shuffleWrite, "spill" -> k.spill,
        "peak_mem" -> k.peakMem, "stream_queries" -> k.streamQueries,
        "stream_terminated" -> k.streamTerminated, "batches" -> k.batches,
        "state_rows" -> k.stateRows, "drain_ms" -> k.drainMs).map { case (n, v) => n -> v.toString })
    })
  }
}

object Tally {
  val Key = "perfbench.tag"
}
