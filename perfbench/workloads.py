"""Seeded request generators for the benchmark's workloads.

Every generator is a pure function of its seed: the same seed gives a
byte-identical script (see `script_bytes`), another seed gives other literals
and another order. A request is a dict:

    {"method": "tools/list" | "tools/call", "tool": str, "args": dict,
     "template": str,   # cold-start key: first call of each template is cold
     "check": str,      # how the response is verified (checks.py)
     ...check-specific fields}

`agent_session` and `curation_sweep` are built from blocks of fixed
composition, so every run does the same mix of work. The seed draws every
block's literals; the first block keeps its canonical order, so the cold
start (JIT, first-time code generation) lands on the same calls in every run,
and the seed shuffles the later blocks.
"""
import json
import random

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
SEARCH_TERMS = ["key", "name", "price", "date", "order", "supp", "text", "id", "*"]


def _date(r, lo_year=1995, hi_year=2001):
    return f"{r.randint(lo_year, hi_year)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"


# Ad-hoc SQL templates, written in SQL that both Spark and DuckDB run with the
# same result, so each answer is compared with DuckDB on the same parquet.
def _sql_templates(r):
    return {
        "filter_agg": "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
               "AVG(l_discount) AS disc FROM lineitem "
               f"WHERE l_shipdate < DATE '{_date(r, 1996, 2001)}' AND l_quantity > {r.randint(1, 40)} "
               "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        "join2_agg": "SELECT c.c_mktsegment, COUNT(*) AS n, SUM(o.o_totalprice) AS total "
               "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
               f"WHERE c.c_acctbal > {r.randint(-900, 9000)} "
               "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
        "join3_agg": "SELECT n.n_name, COUNT(*) AS n_orders, SUM(o.o_totalprice) AS total "
               "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
               "JOIN nation n ON c.c_nationkey = n.n_nationkey "
               f"WHERE o.o_orderdate >= DATE '{_date(r)}' GROUP BY n.n_name ORDER BY n.n_name",
        "join4_agg": "SELECT r.r_name, COUNT(*) AS n_lines, "
               "SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
               "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey "
               "JOIN nation n ON s.s_nationkey = n.n_nationkey "
               "JOIN region r ON n.n_regionkey = r.r_regionkey "
               f"WHERE l.l_discount BETWEEN {r.randint(0, 4) / 100} AND {r.randint(5, 10) / 100} "
               "GROUP BY r.r_name ORDER BY r.r_name",
        "top_k": "SELECT c_custkey, c_name, c_acctbal FROM customer "
               f"WHERE c_nationkey = {r.randint(0, 24)} "
               f"ORDER BY c_acctbal DESC, c_custkey LIMIT {r.randint(5, 50)}",
        "window_rank": "SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (SELECT c_nationkey, c_custkey, "
               "c_acctbal, RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) "
               f"AS rk FROM customer WHERE c_mktsegment = '{r.choice(SEGMENTS)}') t "
               f"WHERE rk <= {r.randint(1, 5)} ORDER BY c_nationkey, rk",
    }


def _dump_sql(r):
    """A row dump past the server's 10,000-row cap (about 2.7 MB of JSON)."""
    return ("SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
            "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
            "CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem "
            f"WHERE l_orderkey >= {r.randint(0, 100000)} ORDER BY l_orderkey, l_linenumber, "
            "l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax, "
            "l_returnflag, l_linestatus, l_shipdate")


def _denied_sql(r):
    t = r.choice(TABLES)
    return r.choice([
        f"DROP TABLE {t}",
        f"INSERT INTO {t} SELECT * FROM {t}",
        f"CREATE TABLE bench_{t} AS SELECT * FROM {t}",
        "SELECT java_method('java.lang.System', 'getProperty', 'user.home')",
        f"SELECT * FROM parquet.`{t}.parquet`",
    ])


# Argument grids of the light YAML tools; every point has a pinned digest.
LIGHT_GRID = {
    "top_customers": [{"segment": s} for s in SEGMENTS],
    "orders_after": [{"min_date": d} for d in
                     ["1995-03-01", "1996-01-15", "1997-06-30", "1998-02-01",
                      "1999-09-09", "2000-05-20", "2001-01-01", "2001-07-01"]],
    "sample_corpus": [{"pct": p} for p in [1, 5, 10, 25, 50]],
    "source_mix": [{"sources": s, "min_chars": m}
                   for s in [[], ["src0", "src1"], ["src3", "src7", "src11"], ["src19"]]
                   for m in [0, 150, 300]],
    "quality_scan": [{"max_chars": m} for m in [100, 200, 300, 400]],
    "privacy_scan": [{"k": k} for k in [2, 3, 5, 10]],
}

# Argument grids of the curation tools. corpus_funnel is left out: one cold
# call costs 17-25 s on a 4-core host, longer than a whole run.
CURATION_GRID = {
    "dedup_threshold_sweep": [{"thresholds_x1e4": t} for t in
                              [[8500, 9200, 9700], [8000, 9000], [9000, 9500, 9900],
                               [7500, 8500, 9500]]],
    "split_leakage": [{"train_pct": a, "val_pct": b, "threshold_x1e4": t}
                      for a, b, t in [(80, 10, 9000), (70, 15, 8500), (90, 5, 9500)]],
    "decontaminate": [{"ngram": n, "eval_modulus": m, "min_shared": s}
                      for n, m, s in [(3, 10, 1), (3, 20, 2), (4, 10, 1), (5, 10, 1)]],
    "corpus_novelty": [{"n_batches": n} for n in [5, 10, 20]],
    "dataset_card": [{}],
    "semantic_decontaminate": [{"threshold_x1e4": t} for t in [8000, 8500, 9000, 9500]],
    "media_dedup": [{"modality": m, "hash_bits": b}
                    for m, b in [("image", 16), ("image", 64), ("audio", 14), ("audio", 20)]],
    "stream_decontaminate": [{"mode": m} for m in ["exact", "semantic"]],
}


def pin_key(tool, args):
    return tool + " " + json.dumps(args, sort_keys=True)


def _call(tool, args, template, check, **extra):
    req = {"method": "tools/call", "tool": tool, "args": args,
           "template": template, "check": check}
    req.update(extra)
    return req


def agent_block(r, shuffle):
    """20 calls: introspection, six ad-hoc SQL shapes, one capped row dump,
    the six light YAML tools, two EXPLAINs and two gate denials."""
    sqls = _sql_templates(r)
    block = [{"method": "tools/list", "tool": "", "args": {}, "template": "tools/list",
              "check": "tools_list"}]
    names = r.sample(TABLES, r.randint(1, 3)) if r.random() < 0.8 else []
    block.append(_call("list_tables", {"table_names": ",".join(names)}, "list_tables",
                       "list_tables", tables=names or TABLES))
    block.append(_call("search_catalog", {"query": r.choice(SEARCH_TERMS),
                                          "page_size": r.randint(5, 50)},
                       "search_catalog", "search"))
    for key, sql in sqls.items():
        block.append(_call("execute_sql", {"sql": sql}, "sql:" + key, "duckdb"))
    block.append(_call("execute_sql", {"sql": _dump_sql(r)}, "sql:dump", "duckdb"))
    for tool, grid in LIGHT_GRID.items():
        block.append(_call(tool, r.choice(grid), "yaml:" + tool, "pin"))
    for key in r.sample(sorted(sqls), 2):
        block.append(_call("execute_sql", {"sql": "EXPLAIN " + sqls[key]}, "explain", "explain"))
    for _ in range(2):
        block.append(_call("execute_sql", {"sql": _denied_sql(r)}, "denied", "denied"))
    if shuffle:
        r.shuffle(block)
    return block


def curation_block(r, shuffle):
    """14 calls over the curation tools: one point of each single-shot tool,
    semantic decontamination at three thresholds, every media_dedup point
    and both streaming screens."""
    block = []
    for tool in ("dedup_threshold_sweep", "split_leakage", "decontaminate",
                 "corpus_novelty", "dataset_card"):
        block.append(_call(tool, r.choice(CURATION_GRID[tool]), tool, "pin"))
    for args in r.sample(CURATION_GRID["semantic_decontaminate"], 3):
        block.append(_call("semantic_decontaminate", args, "semantic_decontaminate", "pin"))
    for tool in ("media_dedup", "stream_decontaminate"):
        for args in CURATION_GRID[tool]:
            block.append(_call(tool, args, tool, "pin"))
    if shuffle:
        r.shuffle(block)
    return block


def script(workload, seed, blocks):
    """The first `blocks` blocks of a workload's request script."""
    r = random.Random(f"{workload}:{seed}")
    make = {"agent_session": agent_block, "curation_sweep": curation_block}[workload]
    return [req for b in range(blocks) for req in make(r, shuffle=b > 0)]


def catalog_plan(names, seed, seconds):
    """Lines `<pass> <entry>` for the catalog driver: every k-th entry (one
    per two measured seconds, as a fresh JVM runs an entry cold, checks it and
    runs it warm on a 4-core host; the same entries on every seed), first in
    catalog order (pass 0, cold), then again in seeded order (pass 1, warm)."""
    chosen = list(names[::max(1, len(names) // max(1, seconds // 2))])
    warm = list(chosen)
    random.Random(f"catalog:{seed}").shuffle(warm)
    return [f"0 {n}" for n in chosen] + [f"1 {n}" for n in warm]


def script_bytes(reqs):
    return "\n".join(json.dumps(q, sort_keys=True) for q in reqs).encode()
