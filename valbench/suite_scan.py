"""suite_scan: the flagship validation suite over 100k generated pages.

Set-up generates 5,000 documents from the seed, expands them into pages with
the program's own page synthesizer (`sources.load_pages`, 20 replicas, so the
generator's 50 colliding `dup.example` urls and its invalid-url, bad-lang,
out-of-window and NULL-text rows are all present) and writes them to parquet
once: every pass then scans a stored crawl, the production shape. The drift
baseline is a stored artifact too: the generated documents' lang mix.

One operation is one suite pass, `suite.run_suite_df`, with all four outputs
forced: verdicts and violations are written to Spark's no-op sink, stats and
histograms are collected. The first pass of the process is timed. The outputs
of the last timed pass are checked against DuckDB SQL written here, over the
same parquet files.
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import median, timed_rounds

N_DOCS = 5000
REPLICAS = 20          # 100,000 pages
LANGS = ["en", "zh", "es", "fr", "de"]  # genuine ISO-639-1 codes
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("key agg row scan slow fast table value part hash merge batch spark "
         "a the line sort window data column join small customer query order "
         "group filter stream vector big").split()

# The flagship rules, restated from their specification (not imported from
# the program), in fail-fast order.
URL_RE = "^https?://"
TEXT_MIN, TEXT_MAX = 10, 100000
TS_MIN, TS_MAX = 1704067200, 1735689600
HIST_BIN = 50
KL_SMOOTHING = 1e-9
RULES = [  # (rule_id, violation key, message) by rule index
    ("text-not-null", "text", "text is required"),
    ("text-length", "text", "text length out of range"),
    ("lang-iso", "lang", "lang is not a valid ISO-639-1 code"),
    ("warc-ts-window", "warc_ts", "warc_ts out of expected crawl window"),
    ("extract-byte-identity", "text",
     "extracted text is not byte-identical to source text"),
    ("unique-url", "url", None),  # message names the url and its count
]
SCHEMA_KEY, SCHEMA_MSG = "url", "URL must be http(s)"


def write_documents(path: str, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 90, N_DOCS)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    langs = [LANGS[i] for i in rng.choice(len(LANGS), N_DOCS, p=LANG_P)]
    pq.write_table(pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts,
        "lang": langs, "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        os.path.join(path, "documents.parquet"))
    return langs


def run(ctx, tracer, seconds: float) -> dict:
    from pyspark.sql import SparkSession

    import sparkcheck.engine
    import sparkcheck.model
    import sparkcheck.operators.uniqueness
    from sparkcheck import suite
    from sparkcheck.sources.pages import load_pages

    tracer.wrap(suite, "pages_validator", "model.build")
    tracer.wrap(sparkcheck.model.ValidatorBuilder, "validate",
                "engine.validate")
    tracer.wrap(sparkcheck.operators.uniqueness, "gate_broadcast",
                "uniqueness.gate")
    tracer.wrap(sparkcheck.engine, "kl_divergence", "drift.kl")

    spark: SparkSession = ctx.spark
    docs_dir = os.path.join(ctx.work, "docs")
    pages_dir = os.path.join(ctx.work, "pages")
    os.makedirs(docs_dir)
    with tracer.span("sources.synth"):
        langs = write_documents(docs_dir, ctx.seed)
        load_pages(spark, docs_dir, replicas=REPLICAS).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    baseline_rows = [("lang", lang, n / N_DOCS)
                     for lang, n in sorted(Counter(langs).items())]
    baseline = spark.createDataFrame(baseline_rows,
                                     "col string, bucket string, p double")

    def one_pass():
        res = suite.run_suite_df(spark, pages, replicas=REPLICAS,
                                 baseline=baseline)
        with tracer.span("engine.verdicts"):
            res.verdicts.write.format("noop").mode("overwrite").save()
        with tracer.span("engine.violations"):
            res.violations.write.format("noop").mode("overwrite").save()
        with tracer.span("engine.stats"):
            stats = res.stats.collect()
        with tracer.span("engine.hists"):
            hists = res.hists.collect()
        return res, stats, hists

    # No warm-up: a batch validation runs once per spark-submit, so its
    # users pay the first, JIT-cold pass of a JVM every time (see README).
    ctx.setup_done()

    outputs, times, persisted_mb = [], [], []
    state = {}

    def timed_pass(i):
        if "res" in state:
            state.pop("res").unpersist()
        tracer.op = i
        t0 = time.perf_counter()
        with tracer.span("suite.pass"):
            res, stats, hists = one_pass()
        times.append(time.perf_counter() - t0)
        tracer.op = None
        outputs.append((sorted(map(tuple, stats)), sorted(map(tuple, hists)),
                        res.run_checks[0].value))
        if tracer.enabled:
            persisted_mb.append(_storage_mb(spark))
        state["res"] = res

    wall, passes = timed_rounds(seconds, timed_pass)
    ctx.timed_done()
    print(f"suite_scan: timed passes {times}",
          file=sys.stderr, flush=True)
    n_rows = pages.count()

    res = state["res"]
    verdict_counts = {(r["step"], r["rule_id"], r["success"]): r["count"]
                      for r in res.verdicts.groupBy("step", "rule_id",
                                                    "success").count()
                      .collect()}
    violation_counts = {(r["rule_id"], r["key"], r["message"]): r["count"]
                        for r in res.violations.groupBy(
                            "rule_id", "key", "message").count().collect()}
    observed = res.metrics()
    res.unpersist()

    problems = check_outputs(pages_dir, baseline_rows, n_rows, outputs,
                             verdict_counts, violation_counts, observed)
    for p in problems:
        print(f"suite_scan check failed: {p}", flush=True)
    return {
        "attempted": passes, "failed": 0, "correct": not problems,
        "rows_per_s": n_rows * passes / wall,
        "layers": lambda ops: _layers(tracer, ops, persisted_mb),
    }


def _storage_mb(spark) -> float:
    """Memory + disk size of every persisted RDD (the engine's persist
    point), read after the pass forced its outputs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def _layers(tracer, ops, persisted_mb) -> dict:
    from tracing import spark_per_op

    d = tracer.durations
    return {
        "model.build_ms": median(d("model.build", ops)) * 1e3,
        "engine.validate_s": median(d("engine.validate", ops)),
        "engine.eager_jobs": median(tracer.per_op_sum(
            "engine.validate", ops, "jobs")),
        "engine.verdicts_s": median(d("engine.verdicts", ops)),
        "engine.violations_s": median(d("engine.violations", ops)),
        "engine.stats_s": median(d("engine.stats", ops)),
        "engine.hists_s": median(d("engine.hists", ops)),
        "engine.persisted_mb": median(persisted_mb),
        "engine.jobs": median(tracer.per_op_sum("suite.pass", ops, "jobs")),
        "uniqueness.gate_s": median(d("uniqueness.gate", ops)),
        "drift.kl_s": median(d("drift.kl", ops)),
        "extraction.python_eval_s": median(tracer.per_op_sum(
            "suite.pass", ops, "python_s")),
        **spark_per_op(tracer, "suite.pass", ops),
    }


# -- independent checks ----------------------------------------------------

def _expected(con: duckdb.DuckDBPyConnection, baseline_rows):
    """The suite's outputs computed in DuckDB over the same parquet files."""
    langs = ", ".join(f"'{lang}'" for lang in LANGS)
    con.execute(f"""
    CREATE TABLE p AS
    WITH raw AS (
      SELECT url, text, lang, warc_epoch, decode(html) AS h FROM pages),
    ex AS (
      SELECT *, strpos(h, '<p>') AS i,
             length(h) - strpos(reverse(h), '>p/<') - 2 AS j FROM raw)
    SELECT url, text, lang,
      CASE WHEN NOT regexp_matches(url, '{URL_RE}') THEN -1
           WHEN text IS NULL THEN 0
           WHEN NOT length(text) BETWEEN {TEXT_MIN} AND {TEXT_MAX} THEN 1
           WHEN lang IS NULL OR lang NOT IN ({langs}) THEN 2
           WHEN NOT warc_epoch BETWEEN {TS_MIN} AND {TS_MAX} THEN 3
           WHEN h IS NULL OR i = 0 OR strpos(h, '</p>') = 0 OR j < i
                OR substring(h, i + 3, greatest(j - i - 3, 0))
                   IS DISTINCT FROM text
             THEN 4
      END AS pre_fail
    FROM ex""")
    con.execute("""
    CREATE TABLE v AS
    WITH dups AS (SELECT url, count(*) AS n FROM p WHERE pre_fail IS NULL
                  GROUP BY url HAVING count(*) > 1)
    SELECT p.url, p.text, p.lang,
           coalesce(p.pre_fail, CASE WHEN d.url IS NOT NULL THEN 5 END)
             AS fail, d.n
    FROM p LEFT JOIN dups d ON p.pre_fail IS NULL AND p.url = d.url""")

    verdicts, violations = Counter(), Counter()
    for fail, url, n in con.execute("SELECT fail, url, n FROM v").fetchall():
        if fail is None:
            verdicts[(None, None, True)] += 1
        elif fail == -1:
            verdicts[("schema", None, False)] += 1
            violations[(None, SCHEMA_KEY, SCHEMA_MSG)] += 1
        else:
            rule_id, key, msg = RULES[fail]
            verdicts[("rules", rule_id, False)] += 1
            if msg is None:
                msg = f"Duplicate value for url: {url} ({n} occurrences)"
            violations[(rule_id, key, msg)] += 1

    fr = "(SELECT * FROM v WHERE fail IS NULL)"
    stats = {}
    for c in ("url", "text", "lang"):
        stats[c] = con.execute(
            f"SELECT avg(({c} IS NULL)::DOUBLE), count(DISTINCT {c}), "
            f"min({c}), max({c}) FROM {fr}").fetchone()
    hists = sorted(("text", b, n) for b, n in con.execute(
        f"SELECT floor(length(text) / {HIST_BIN})::BIGINT, count(*) FROM {fr} "
        "WHERE text IS NOT NULL GROUP BY 1").fetchall())
    cur = dict(con.execute(
        f"SELECT coalesce(lang, '∅'), count(*) FROM {fr} GROUP BY 1")
        .fetchall())
    total = sum(cur.values())
    base = {b: p for _, b, p in baseline_rows}
    s = KL_SMOOTHING
    kl = 0.0
    for b in set(cur) | set(base):
        p, q = cur.get(b, 0) / total, base.get(b, 0.0)
        kl += (p + s) * math.log((p + s) / (q + s))
    return verdicts, violations, stats, hists, kl


def _q4(x: float) -> float:
    return math.floor(x * 1e4 + 0.5) / 1e4


def check_outputs(pages_dir, baseline_rows, n_rows, outputs, verdict_counts,
                  violation_counts, observed) -> list[str]:
    problems = []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW pages AS SELECT * FROM "
                f"read_parquet('{pages_dir}/*.parquet')")
    want_verdicts, want_violations, want_stats, want_hists, want_kl = \
        _expected(con, baseline_rows)
    con.close()

    n_pages = sum(want_verdicts.values())
    if n_rows != n_pages or n_pages != N_DOCS * REPLICAS:
        problems.append(f"page count {n_rows} (Spark) / {n_pages} (DuckDB)")
    if verdict_counts != dict(want_verdicts):
        problems.append(f"verdict counts {verdict_counts} != "
                        f"{dict(want_verdicts)}")
    if violation_counts != dict(want_violations):
        diff = set(violation_counts.items()) ^ set(want_violations.items())
        problems.append(f"violation counts differ on {diff}")
    # the Observation riding the verdict job against a group-by of verdicts
    failed = sum(n for (_, _, ok), n in verdict_counts.items() if not ok)
    schema = sum(n for (step, _, _), n in verdict_counts.items()
                 if step == "schema")
    want_obs = {"rows": sum(verdict_counts.values()), "failed_rows": failed,
                "schema_failed": schema}
    if observed != want_obs:
        problems.append(f"metrics() {observed} != verdict group-by {want_obs}")

    stats, hists, kl = outputs[-1]
    if any(o != outputs[-1] for o in outputs):
        problems.append("stats/hists/KL differ between timed passes")
    got = {r[0]: r[1:] for r in stats}
    for c, (null_rate, n_distinct, mn, mx) in want_stats.items():
        g = got.get(c)
        if g is None:
            problems.append(f"no stats row for {c}")
            continue
        # n_distinct is a HyperLogLog++ estimate at rsd 0.05: 3 sigma
        if (abs(g[0] - null_rate) > 1e-12 or g[2] != mn or g[3] != mx
                or abs(g[1] - n_distinct) > 0.15 * n_distinct):
            problems.append(f"stats[{c}] {g} != ({null_rate}, ~{n_distinct}, "
                            f"{mn}, {mx})")
    if hists != want_hists:
        problems.append(f"histogram {hists} != {want_hists}")
    if _q4(kl) != _q4(want_kl):
        problems.append(f"KL {kl} != {want_kl}")
    return problems
