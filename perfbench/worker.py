"""The timed process: one fresh Spark session, one workload, its checks.

    python3 perfbench/worker.py --workload NAME --work DIR --seed N
        --trace 0|1 --out result.json [--inputs DIR] [--spans spans.json]
        [--fast] [--corrupt]

Started by ``run.py``. ``query_mix`` reads the oracle counts in
``--inputs``; ``kg_build`` makes its inputs in its Spark session before its
timer starts (``inputs.build_doc_inputs``). It writes only under
``--work``. The result file holds the measured values, the operation
counts and the output-check failures. ``--corrupt`` damages the workload's
output before it is checked; the benchmark's own tests use it to show that
a wrong output fails the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

CORES = 4
DRIVER_HEAP = "3g"

#: streaming dedup: files per micro-batch, and the batch-partition count at
#: which a stream start compacts the signature store (the second start)
STREAM_FILES_PER_TRIGGER = 1
STREAM_COMPACT_BATCHES = 2

STAGE_LAYER = {
    "_run_ingest": ("ingest", "catalog"),
    "_run_dedup": ("unique_docs", "dedup"),
    "_run_mentions": ("mentions", "extraction"),
    "_run_triples": ("triples", "linking"),
    "_run_entities": ("entities", "canonicalize"),
}


def start_session(work: Path, trace: bool):
    from llm_information_extraction_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and its
    descendants (driver, JVM, Python workers): the live ones, and through
    their parents the ones that have ended. Time the host gave to other
    guests (steal) is not in it."""
    from run import _stat, tree

    ticks = sum(sum(map(int, st[11:15])) for pid in tree(os.getpid())
                if (st := _stat(Path(f"/proc/{pid}"))))
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


class Gold:
    """Expected triples of every input doc, from ``inputs.py``."""

    def __init__(self, inputs: Path):
        import pyarrow.parquet as pq

        t = pq.read_table(inputs / "gold.parquet").to_pydict()
        self.rows = Counter(zip(t["doc_id"], t["pred"], t["obj"]))

    def mismatches(self, triples, survivors: set) -> int:
        """Rows in either multiset, restricted to the surviving docs, and
        not the other."""
        got = Counter(tuple(r) for r in triples.select("doc_id", "pred", "obj").collect())
        want = Counter({r: c for r, c in self.rows.items() if r[0] in survivors})
        return sum(((got - want) + (want - got)).values())


def dedup_quality(inputs: Path, info: dict, survivor_ids: set) -> dict:
    import pyarrow.parquet as pq

    copy_ids = set(pq.read_table(inputs / "copies.parquet")["copy_id"].to_pylist())
    n = info["n_orig"]
    origs_kept = sum(1 for d in survivor_ids if d not in copy_ids)
    return {
        "dedup_recall": sum(1 for c in copy_ids if c not in survivor_ids)
        / len(copy_ids),
        "dedup_false_drop_rate": (n - origs_kept) / n,
        "docs_dropped": n + len(copy_ids) - len(survivor_ids),
    }


# -- workloads ------------------------------------------------------------------
def kg_build(spark, a, info, tracer) -> dict:
    """The KG pipeline (no dedup) over the planted corpus into a fresh
    warehouse. A traced run then also runs the pipeline's MinHash dedup
    stage over the same documents, and drains them, arriving as files,
    through the streaming near-duplicate filter."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from llm_information_extraction_spark.plans import pipeline as pl
    from llm_information_extraction_spark.sources.catalog import Catalog

    from perfbench.inputs import OVERSIZED_PCT, ZIPF_SKEW

    if tracer.enabled:
        trace_pipeline(tracer, pl, Catalog, DataFrame)
    config = pl.PipelineConfig(
        n_docs=info["n_orig"], seed=info["seed"], dedup="none",
        hot_entity_skew=ZIPF_SKEW, oversized_doc_pct=OVERSIZED_PCT,
    )

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    with tracer.span("pipeline.run", "pipeline"):
        with tracer.span("pipeline.open", "pipeline"):
            docs = spark.read.parquet(str(a.inputs / "docs.parquet"))
            pipe = pl.KGPipeline(spark, str(a.work / "warehouse"), config,
                                 documents=docs)
        counts = pipe.run(resume=False)
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    stages = {
        r["stage"]: r["wall_ms"] / 1e3 for r in pipe.read("metrics").collect()
    }
    # -- output check (untimed) --------------------------------------------
    gold = Gold(a.inputs)
    triples = pipe.read("triples")
    all_ids = ids(pipe.read("ingest"))
    if a.corrupt:  # lose the triples of one doc
        triples = triples.filter(F.col("doc_id") != min(all_ids))
    bad = gold.mismatches(triples, all_ids)
    res = {
        "wall_s": wall,
        "cpu_s": cpu,
        "ops": stages,
        "attempted": len(stages),
        # a wrong output fails the triples stage
        "failed": int(bad > 0),
        "checks": {"pipeline_triples_mismatched_rows": bad},
        "docs": len(all_ids),
        "counts": counts,
    }
    if tracer.enabled:
        batch_dedup(spark, a, info, tracer, pl, config, res)
        stream_dedup(spark, a, info, tracer, gold, res)
    return res


def batch_dedup(spark, a, info, tracer, pl, config, res: dict) -> None:
    """The pipeline's ingest and MinHash dedup stages over the same docs;
    the surviving docs must be unchanged input docs."""
    from dataclasses import replace

    docs = spark.read.parquet(str(a.inputs / "docs.parquet"))
    with tracer.span("dedup.run", "dedup"):
        pipe = pl.KGPipeline(spark, str(a.work / "dedup"),
                             replace(config, dedup="minhash"), documents=docs)
        pipe.run(resume=False, stop_after="unique_docs")
    kept = pipe.read("unique_docs")
    altered = kept.exceptAll(docs).count()
    res.update(
        attempted=res["attempted"] + 1,
        failed=res["failed"] + int(altered > 0),
        **dedup_quality(a.inputs, info, ids(kept)),
    )
    res["checks"].update(dedup_altered_docs=altered)


def stream_dedup(spark, a, info, tracer, gold, res: dict) -> None:
    """Drain the corpus files through ``incremental_fuzzy_unique_documents``
    and check the survivors; adds the results to ``res``."""
    from llm_information_extraction_spark.operators import (
        build_payload, extract_triples,
    )
    from llm_information_extraction_spark.operators.linking import (
        link_mentions, vocabulary_df,
    )
    from llm_information_extraction_spark.streaming import incremental

    tracer.wrap(incremental, "compact_signature_store", "stream.compact", "stream")
    files = sorted((a.inputs / "stream").glob("part-*.parquet"))
    d = a.work / "stream"
    src, out, ckpt, state = (d / x for x in ("in", "out", "ckpt", "state"))
    src.mkdir(parents=True)
    progress = []
    with tracer.span("stream.run", "stream") as rec:
        for arrived in (files[:-1], files[-1:]):
            for f in arrived:
                shutil.copy(f, src / f.name)
            q = incremental.incremental_fuzzy_unique_documents(
                spark, str(src), str(out), str(ckpt), str(state),
                seed=info["seed"],
                compact_batches=STREAM_COMPACT_BATCHES,
                max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
            )
            q.awaitTermination()
            progress += q.recentProgress  # dict-like StreamingQueryProgress
    batches = [
        p["durationMs"]["triggerExecution"] / 1e3
        for p in progress if p["numInputRows"] > 0
    ]
    streamed = spark.read.parquet(str(out)).drop("batch_id")
    altered = streamed.exceptAll(spark.read.parquet(*map(str, files))).count()
    triples = link_mentions(
        extract_triples(build_payload(streamed)), vocabulary_df(spark)
    )
    kept = ids(streamed)
    bad = gold.mismatches(triples, kept)
    quality = dedup_quality(a.inputs, info, kept)
    res.update(
        stream_s=tracer.wall(rec),
        batches=batches,
        store_bytes=dir_bytes(state),
        attempted=res["attempted"] + len(batches),
        # a wrong stream output fails one micro-batch
        failed=res["failed"] + int(bad > 0 or altered > 0),
        **{f"stream_{k}": v for k, v in quality.items()},
    )
    res["checks"].update(stream_triples_mismatched_rows=bad,
                         stream_altered_docs=altered)


def ids(df) -> set:
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def trace_pipeline(tracer, pl, Catalog, DataFrame) -> None:
    """Spans for every stage, lazy operator call, catalog call, lineage
    commit and row recount of ``KGPipeline.run``."""
    from llm_information_extraction_spark.operators import dedup

    for method, (stage, layer) in STAGE_LAYER.items():
        tracer.wrap(pl.KGPipeline, method, f"stage.{stage}", layer)
    tracer.wrap(pl.KGPipeline, "_record_lineage", "pipeline.lineage", "pipeline")
    for attr, layer in (
        ("build_payload", "extraction"), ("extract_triples", "extraction"),
        ("link_mentions", "linking"), ("build_entities", "canonicalize"),
    ):
        tracer.wrap(pl, attr, f"{layer}.plan", layer)
    tracer.wrap(dedup, "minhash_dedup_groups_fast", "dedup.plan", "dedup")

    def snapshot_bytes(rec, args, snap_id):
        cat, table = args[0], args[1]
        rec["bytes"] = dir_bytes(Path(cat.warehouse) / table / f"snap_{snap_id:06d}")

    tracer.wrap(Catalog, "write", "catalog.write", "catalog", after=snapshot_bytes)
    tracer.wrap(Catalog, "read", "catalog.read", "catalog")
    in_run = lambda t: (t.current() or {}).get("name") == "pipeline.run"  # noqa: E731
    tracer.wrap(DataFrame, "count", "pipeline.recount", "pipeline", when=in_run)


def query_mix(spark, a, info, tracer) -> dict:
    import __spark_entry__ as entry

    from perfbench.queries import LAYER, PASS, SLOW, TAIL

    qs = entry.queries()
    tables = str(ROOT / info["tables"])
    expected = json.loads((a.inputs / "oracle_counts.json").read_text())

    def timed(name: str, phase: str) -> tuple[float, int | str]:
        """Wall and row count of one query; its lazy call's wall goes to
        ``plan``."""
        with tracer.span(f"q.{name}", LAYER[name], phase=phase):
            t = time.perf_counter()
            try:
                df = qs[name](spark, tables)
                plan[name] = time.perf_counter() - t
                n = df.count()
            except Exception as e:  # a query that raises is a failed operation
                n = f"{type(e).__name__}: {e}"[:500]
            return time.perf_counter() - t, n

    walls, counts, plan = {}, {}, {}
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    for name in PASS:
        walls[name], counts[name] = timed(name, "cold")
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    extra = {"plan": plan}
    if tracer.enabled:  # the rest of the headline, then the untimed tail
        for name in SLOW:
            walls[name], counts[name] = timed(name, "slow")
        for name in TAIL:
            extra.setdefault("tail", {})[name], counts[name] = timed(name, "tail")
    if a.corrupt:
        counts[PASS[0]] += 1
    wrong = {n: (c, expected[n]) for n, c in counts.items() if c != expected[n]}
    return {
        "wall_s": wall,
        "cpu_s": cpu,
        "ops": {q: walls[q] for q in PASS},
        "attempted": len(counts),
        "failed": len(wrong),
        "checks": {"wrong_counts": wrong},
        "query_walls": walls,
        **extra,
    }


WORKLOADS = {
    "kg_build": kg_build,
    "query_mix": query_mix,
}


# -- per-layer metrics (traced runs) ---------------------------------------------
def layer_metrics(spark, tracer, res: dict, setup_s: float) -> dict:
    from perfbench.queries import HEADLINE, LAYER, TAIL
    from perfbench.trace import JobMetrics, sums

    jm = JobMetrics(spark)
    spans = tracer.spans
    by_name = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    groups = lambda ss: {s["group"] for s in ss}  # noqa: E731
    wall = res["wall_s"]
    m: dict[str, float] = {"session.start_s": setup_s, "trace.wall_s": wall}

    # the measured pipeline pass; the traced-only dedup pass counts for the
    # dedup layer alone
    runs = by_name("pipeline.run")[:1]
    measured = {x["id"] for r in runs for x in tracer.subtree(r)}
    counted = lambda s: not runs or s["id"] in measured or s["layer"] == "dedup"  # noqa: E731

    # pipeline stages: a stage's layer owns the stage's spans except its
    # lineage commit, which is the pipeline's
    is_lineage = lambda s: s["name"] == "pipeline.lineage"  # noqa: E731
    layer_spans: dict[str, list] = {}
    layer_busy: dict[str, float] = {}
    for s in filter(counted, spans):
        if s["name"].startswith("stage."):
            sub = tracer.subtree(s, prune=is_lineage)
            layer_spans.setdefault(s["layer"], []).extend(sub)
            lineage = sum(tracer.wall(c) for c in tracer.children(s) if is_lineage(c))
            layer_busy[s["layer"]] = layer_busy.get(s["layer"], 0.0) + tracer.wall(s) - lineage
        elif s["name"].startswith("q.") and s.get("phase") in ("cold", "slow"):
            layer_spans.setdefault(s["layer"], []).append(s)
            layer_busy[s["layer"]] = layer_busy.get(s["layer"], 0.0) + tracer.wall(s)
    plan: dict[str, float] = {}
    for s in filter(counted, spans):
        if s["name"].endswith(".plan"):
            plan[s["layer"]] = plan.get(s["layer"], 0.0) + tracer.wall(s)
    for q in res.get("query_walls", {}):  # query mix: lazy call per query
        plan[LAYER[q]] = plan.get(LAYER[q], 0.0) + res["plan"].get(q, 0.0)

    def layer_block(layer: str, keys: list[str]) -> None:
        ss = layer_spans.get(layer, [])
        j = sums(jm.for_groups(groups(ss)))
        busy = layer_busy.get(layer, 0.0)
        vals = {
            "busy_s": busy,
            "plan_s": plan.get(layer, 0.0),
            "jobs": j["jobs"],
            "python_s": j["python_s"],
            "core_util": j["run_s"] / (busy * CORES) if busy else 0.0,
            "shuffle_bytes": j["shuffle_bytes"],
            "spill_bytes": j["spill_bytes"],
        }
        for k in keys:
            m[f"{layer}.{k}"] = vals[k]

    layer_block("extraction", ["busy_s", "plan_s", "python_s", "core_util", "jobs"])
    layer_block("linking", ["busy_s", "plan_s", "shuffle_bytes", "jobs"])
    layer_block("canonicalize", ["busy_s", "jobs"])
    layer_block("dedup", ["busy_s", "plan_s", "shuffle_bytes", "spill_bytes",
                          "core_util", "python_s"])
    for layer in ("similarity", "textprep", "textmetrics", "evaluation",
                  "multimodal", "relational", "stateful"):
        layer_block(layer, ["busy_s", "plan_s", "jobs", "python_s", "core_util"])
    counts = res.get("counts", {})
    m["extraction.rows_out"] = counts.get("mentions", 0)
    m["linking.rows_out"] = counts.get("triples", 0)
    m["dedup.docs_dropped"] = res.get("docs_dropped", 0)
    m["dedup.recall"] = res.get("dedup_recall", 0.0)
    m["dedup.false_drop_rate"] = res.get("dedup_false_drop_rate", 0.0)

    # catalog: every Catalog.write/read call, including the upstream work
    # a write materialises
    cat = [s for s in spans if s["name"].startswith("catalog.") and s["id"] in measured]
    m["catalog.busy_s"] = sum(tracer.wall(s) for s in cat if s["parent"] is None
                              or spans[s["parent"]]["layer"] != "catalog")
    m["catalog.jobs"] = sums(jm.for_groups(groups(cat)))["jobs"]
    m["catalog.bytes_written"] = sum(s.get("bytes", 0) for s in cat)

    # pipeline: run self time, opening the input and catalog, the row
    # recounts and the lineage commits
    mine = lambda n: [s for s in by_name(n) if s["id"] in measured]  # noqa: E731
    lineage = [x for s in mine("pipeline.lineage") for x in tracer.subtree(s)]
    own = mine("pipeline.open") + mine("pipeline.recount")
    lineage_s = sum(tracer.wall(s) for s in mine("pipeline.lineage"))
    m["pipeline.lineage_s"] = lineage_s
    m["pipeline.lineage_share"] = lineage_s / wall if runs else 0.0
    m["pipeline.busy_s"] = (
        sum(tracer.self_time(s) for s in runs)
        + sum(tracer.wall(s) for s in own) + lineage_s
    )
    m["pipeline.jobs"] = sums(jm.for_groups(groups(lineage + own)))["jobs"]

    # stream: micro-batches from recentProgress, jobs by submission time
    stream = by_name("stream.run")[:1]
    batches = res.get("batches", [])
    half = len(batches) // 2
    m["stream.batch_s"] = statistics.median(batches) if batches else 0.0
    m["stream.batch_growth"] = (
        statistics.median(batches[half:]) / statistics.median(batches[:half])
        if half else 0.0
    )
    m["stream.store_bytes"] = res.get("store_bytes", 0)
    m["stream.compact_s"] = sum(tracer.wall(s) for s in by_name("stream.compact"))
    m["stream.jobs"] = (
        len(jm.between(stream[0]["t0"], stream[0]["t1"])) if stream else 0
    )
    m["stream.dedup_recall"] = res.get("stream_dedup_recall", 0.0)
    m["stream.false_drop_rate"] = res.get("stream_dedup_false_drop_rate", 0.0)

    # per query: wall in the measured pass, or after it (the slow headline
    # queries, then the tail)
    for q in HEADLINE:
        m[f"q.{q}_s"] = res.get("query_walls", {}).get(q, 0.0)
    for q in TAIL:
        m[f"q.{q}_s"] = res.get("tail", {}).get(q, 0.0)

    # share of wall_s inside the measured pass's top-level spans: the
    # pipeline's input opening, stages and recounts, or the queries
    if runs:
        top = tracer.children(runs[0])
    else:
        top = [s for s in spans if s.get("phase") == "cold"]
    m["trace.coverage"] = sum(tracer.wall(s) for s in top) / wall
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", type=Path, help="query_mix: oracle counts")
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--spans", type=Path, help="where a traced run writes its spans")
    ap.add_argument("--fast", action="store_true", help="tiny inputs")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_T_SPAWN"])

    spark = start_session(a.work, bool(a.trace))
    setup_s = time.time() - t_spawn

    from perfbench.trace import Tracer

    if a.workload == "kg_build":
        from perfbench.inputs import build_doc_inputs

        a.inputs = a.work / "inputs"
        a.inputs.mkdir()
        info = build_doc_inputs(spark, a.seed, a.fast, a.inputs)
    else:
        info = json.loads((a.inputs / "inputs.json").read_text())
    tracer = Tracer(spark, f"run{a.seed}", bool(a.trace))
    res = WORKLOADS[a.workload](spark, a, info, tracer)
    res["setup_s"] = setup_s
    res["conditions"] = {  # as the live session has them
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
    }
    if a.trace:
        res["layers"] = layer_metrics(spark, tracer, res, setup_s)
        tracer.dump(a.spans)
    spark.stop()
    a.out.write_text(json.dumps(res, default=str))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [str(ROOT)]
    sys.exit(main())
