"""The ``analytics_batch`` workload: the 48 analytics rows of the
suite, each run through ``__spark_entry__.queries()`` as plan build +
execute + collect in one Spark driver process, over tables generated
from the seed (``datagen.py``).

The parent (the generator process) generates the tables, starts the
driver as a child process (``python perfbench/batch.py ...``), and
afterwards checks every result: 46 rows against
``__spark_entry__.oracle_sql()`` on DuckDB with
``scripts/selfcheck.py``'s ``normalize``/``values_match``, and the two
xxhash64 sketch rows, which have no replayable oracle, against their
accuracy laws (HLL estimate within 5% of the exact distinct count;
sampled quartiles within ±3 rank points of the exact ones).

The driver runs the rows on four closed-loop streams, which take them
in list order. It first warms its fresh session, untimed, as part of
set-up: every row once on small warm-up tables, which pays for JIT,
code generation and Python-worker start-up. It then runs every row
once on the measured tables; every metric and count comes from that
one pass. With tracing, every row is also split into factory build, an
execution twin (``bit_xor(xxhash64(struct(*)))``, which evaluates every
column but moves one row to the driver) and transfer (collect − twin),
with Spark's stage metrics read per row from the status store.
"""

from __future__ import annotations

import argparse
import os
import pickle
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: the suite's rows, in run order, copied here so later edits to the
#: program's own bench list do not change this workload
ROWS = (
    "li_last_n_multi", "li_since_filter", "li_range_sum", "li_range_median",
    "li_length", "ts_last_n_multi", "ts_since", "filter_equals_multi",
    "agg_median", "agg_sd", "dedup_exact", "dedup_minhash",
    "dedup_ngram_jaccard", "text_gopher", "sim_topk_bruteforce",
    "text_quality", "text_langid", "tmp_asof_join", "tmp_sessionize",
    "tmp_rollup_hour", "rs_locf_hourly", "an_revenue_join",
    "pipe_clean_corpus", "text_tfidf", "text_decontam",
    "dedup_spans_hashed", "text_unigram", "text_bm25", "dedup_semantic",
    "text_bpe_pairs", "sk_hll_partkey", "sk_hll_fast", "sk_quantiles_fast",
    "corpus_dsir", "an_zscore", "ev_funnel", "ev_retention", "dedup_cross",
    "dedup_keep", "tbl_histogram_eq", "text_probe_score", "corpus_temp_mix",
    "sim_pca_project", "sk_heavy_hitters", "sim_topk_pq", "sim_knn_join",
    "rs_m4_downsample", "layout_zorder",
)

FAMILIES = ("path", "dedup", "text", "sim", "sketch", "temporal")
_PREFIX_FAMILY = (
    (("li_", "ts_", "filter_", "agg_"), "path"),
    (("dedup_",), "dedup"),
    (("text_", "corpus_", "pipe_"), "text"),
    (("sim_",), "sim"),
    (("sk_", "tbl_histogram_eq"), "sketch"),
    (("tmp_", "rs_", "an_", "ev_", "layout_zorder"), "temporal"),
)
#: table scale: 24,000 lineitem rows, 200 documents, 200 embeddings
SCALE = 0.004
#: warm-up tables (2,400 lineitem rows), from another seed than the
#: measured ones
WARM_SCALE = 0.0004
#: concurrent streams of the warm-up and the timed pass: one per core
#: of the 4-core reference host
STREAMS = 4
RUN_TIMEOUT_S = 150.0


def family(row: str) -> str:
    for prefixes, fam in _PREFIX_FAMILY:
        if row.startswith(prefixes):
            return fam
    raise KeyError(row)


# ------------------------------------------------------------ parent


def run_batch(root: str, seed: int, trace_file=None) -> dict:
    from common import child_env, kill_group, quantile, work_dir
    from datagen import generate

    scratch = work_dir(root, "analytics_batch")
    data = os.path.join(scratch, "data")
    warm_data = os.path.join(scratch, "warm_data")
    result_file = os.path.join(scratch, "result.pkl")
    # set-up runs from here until the driver's session is up
    t_setup = time.time()
    sizes = generate(data, seed, SCALE)
    generate(warm_data, seed + 1_000_003, WARM_SCALE)
    cmd = [
        sys.executable, os.path.abspath(__file__), "--data", data,
        "--warm-data", warm_data, "--out", result_file,
    ]
    if trace_file:
        cmd += ["--trace-file", trace_file]
    with open(os.path.join(scratch, "driver.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch,
            env=child_env(root, scratch), start_new_session=True,
        )
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        finally:
            kill_group(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"batch driver exited {proc.returncode}; see {log.name}")
    with open(result_file, "rb") as fh:
        res = pickle.load(fh)
    setup_s = res["setup_end_t"] - t_setup
    rows = res["rows"]
    problems = check_rows(root, data, rows)
    # each row is build + execute + collect (a traced run's execution
    # twins are not included)
    walls = [r["wall_s"] * 1000.0 for r in rows]
    batch_s = res["pass_s"]
    failed = len(problems)
    m = {
        "setup_s": setup_s,
        "op_p50_ms": quantile(walls, 0.5),
        "read_p50_ms": quantile(walls, 0.5),
        "read_p75_ms": quantile(walls, 0.75),
        "ops_per_s": len(rows) / batch_s,
        "rss_peak_mb": res["rss_peak_kb"] / 1024.0,
        "batch_s": batch_s,
    }
    for fam in FAMILIES:
        m[f"batch_{fam}_s"] = sum(r["wall_s"] for r in rows if r["family"] == fam)
    return {
        "metrics": m,
        "attempted": len(rows),
        "failed": failed,
        "correct": failed == 0,
        "problems": problems,
        "rows": rows,
        "info": {
            "sizes": sizes,
            "driver": {k: v for k, v in res.items() if k != "rows"},
        },
        "scratch": scratch,
    }


def check_rows(root: str, data: str, rows: list) -> list:
    """Problems found in the rows' results (empty = all right)."""
    import importlib.util

    import duckdb

    sys.path.insert(0, root)
    spec = importlib.util.spec_from_file_location("selfcheck", os.path.join(root, "scripts", "selfcheck.py"))
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    problems = []
    for r in rows:
        name, sdf = r["name"], r["result"]
        if name == "sk_hll_fast":
            exact = con.execute("SELECT count(DISTINCT l_partkey) FROM lineitem").fetchone()[0]
            est = float(sdf["estimate"].iloc[0])
            if abs(est - exact) > 0.05 * exact:
                problems.append(f"{name}: estimate {est} vs exact {exact}")
            continue
        if name == "sk_quantiles_fast":
            problems += _check_quantiles(con, name, sdf)
            continue
        odf = con.execute(oracles[name]).fetchdf()
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"{name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif len(sdf) != len(odf):
            problems.append(f"{name}: {len(sdf)} rows vs {len(odf)}")
        else:
            ok, maxdiff = selfcheck.values_match(selfcheck.normalize(sdf), selfcheck.normalize(odf))
            if not ok:
                problems.append(f"{name}: values differ (max diff {maxdiff:.3e})")
    con.close()
    return problems


def _check_quantiles(con, name, sdf) -> list:
    """Each sampled quartile ``q_<permille>`` must lie between the exact
    quantiles three rank points either side of it, and the estimated
    total within 5% of the row count."""
    out = []
    row = sdf.iloc[0]
    total = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    if abs(float(row["est_total"]) - total) > 0.05 * total:
        out.append(f"{name}: est_total {row['est_total']} vs {total}")
    for col in [c for c in sdf.columns if c.startswith("q_")]:
        q, v = int(col[2:]) / 1000.0, float(row[col])
        lo, hi = con.execute(
            "SELECT quantile_cont(l_extendedprice, $lo), quantile_cont(l_extendedprice, $hi) FROM lineitem",
            {"lo": max(0.0, q - 0.03), "hi": min(1.0, q + 0.03)},
        ).fetchone()
        if not lo <= v <= hi:
            out.append(f"{name}: {col} = {v} outside [{lo}, {hi}]")
    return out


# ------------------------------------------------------------ driver


def _rows_to_pandas(df, rows):
    import pandas as pd

    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)


def driver_main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--data", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--warm-data", required=True)
    p.add_argument("--trace-file", default=None)
    args = p.parse_args(argv)

    tracer = None
    if args.trace_file:
        from spans import Tracer

        import __spark_entry__ as entry_mod

        tracer = Tracer()
        tracer.wrap(entry_mod, "compile_path", "plans.compile")
        tracer.wrap(entry_mod, "plan_to_dataframe", "plans.build")

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from common import proc_status_kb
    from zestdb_spark.session import get_spark

    spark = get_spark("perfbench_batch")
    spark.range(1).collect()
    qs = entry.queries()
    missing = [r for r in ROWS if r not in qs]
    if missing:
        raise SystemExit(f"rows missing from queries(): {missing}")

    # untimed warm-up, part of set-up: JIT, code generation and Python
    # workers, paid on small tables before anything is measured
    t_warm = time.monotonic()
    with ThreadPoolExecutor(STREAMS) as pool:
        for _ in pool.map(lambda name: qs[name](spark, args.warm_data).collect(), ROWS):
            pass
    spark.catalog.clearCache()
    warm_s = time.monotonic() - t_warm
    setup_end = time.time()

    def run_row(name: str) -> dict:
        rec = {"name": name, "family": family(name)}
        if tracer is not None:
            tracer.rid = "0"  # the warm-up's spans carry none
            sc = spark.sparkContext
            sc.setJobGroup(f"b.{name}", "build", False)
            idx = tracer.open("functions.build", name)
        t0 = time.perf_counter()
        df = qs[name](spark, args.data)
        t1 = time.perf_counter()
        if tracer is not None:
            tracer.close(idx)
            sc.setJobGroup(f"c.{name}", "collect", False)
        rows = df.collect()
        t2 = time.perf_counter()
        rec.update(build_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0, n_rows=len(rows))
        if tracer is not None:
            sc.setJobGroup(f"x.{name}", "exec twin", False)
            t3 = time.perf_counter()
            df.select(F.bit_xor(F.xxhash64(F.struct("*")))).collect()
            rec["exec_s"] = time.perf_counter() - t3
        rec["result"] = _rows_to_pandas(df, rows)
        return rec

    # the timed pass: STREAMS closed-loop streams take the rows in order
    t_pass = time.monotonic()
    with ThreadPoolExecutor(STREAMS) as pool:
        out_rows = list(pool.map(run_row, ROWS))
    pass_s = time.monotonic() - t_pass

    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    res = {
        "rows": out_rows,
        "warm_s": warm_s,
        "pass_s": pass_s,
        "setup_end_t": setup_end,
        "rss_peak_kb": proc_status_kb(os.getpid(), "VmHWM") + proc_status_kb(jvm, "VmHWM"),
    }
    if tracer is not None:
        from spans import spark_group_metrics

        groups = spark_group_metrics(spark, "")
        tracer.dump(args.trace_file, {"spark": groups})
    with open(args.out, "wb") as fh:
        pickle.dump(res, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(driver_main())
