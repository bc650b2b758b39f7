"""Benchmark inputs and their expected outputs.

    python3 perfbench/inputs.py --out DIR --result FILE [--fast]

Per workload:

- ``kg_build``: ``build_doc_inputs`` runs the program's own
  ``generate_documents`` and ``generate_gold_triples`` in the timed
  process's session, before its timer starts (``worker.py``), and writes
  ``docs.parquet`` (those documents plus planted near-duplicate copies),
  the same documents cut into ``stream/part-*.parquet`` files,
  ``copies.parquet`` (copy id -> original id) and ``gold.parquet`` (the
  expected triples of every doc). The same seed always gives the same files.
- ``query_mix``: this file's command, a process of its own without Spark,
  writes ``oracle_counts.json``, the row count of every query's DuckDB
  oracle over the fixed contract tables in ``perfbench/data/`` (seed 42;
  ``--seed`` does not change them), into a directory under DIR, and the
  directory's path to FILE as JSON. The directory's name holds the data
  size and ``source_hash()``, so a change to the program or to the
  benchmark computes the counts again; a directory that exists already is
  reused.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: corpus shape shared with the paper pipeline's defaults
ZIPF_SKEW = 1.1
OVERSIZED_PCT = 0.01

#: (original docs, planted copies, stream files) per size
DOC_SIZES = {"full": (200, 50, 3), "fast": (80, 20, 3)}
#: contract tables of the query mix per size, copied from the contract
#: test data (generated with seed 42)
QUERY_DATA = {"full": HERE / "data" / "sf0.01", "fast": HERE / "data" / "sf0.001"}

#: words appended to one span of a planted copy; none is a vocabulary
#: term, so a copy's gold triples are its original's
EDIT_WORDS = ["qzv", "wxk", "jyb", "fvq", "kzm", "pxj"]

#: what the inputs and the expected outputs are made from
SOURCES = ("llm_information_extraction_spark", "__spark_entry__.py", "bench.py",
           "perfbench")


def source_hash() -> str:
    """Hash of the program's and the benchmark's files."""
    h = hashlib.sha256()
    for top in SOURCES:
        p = ROOT / top
        files = sorted(p.rglob("*")) if p.is_dir() else [p]
        for f in files:
            if f.is_file() and "__pycache__" not in f.parts and f.suffix != ".pyc":
                h.update(str(f.relative_to(ROOT)).encode() + b"\0")
                h.update(f.read_bytes())
    return h.hexdigest()[:16]


def cache_key(fast: bool) -> str:
    return f"query_mix-{QUERY_DATA['fast' if fast else 'full'].name}-{source_hash()}"


# -- documents -----------------------------------------------------------------
def generate(spark, n: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """``generate_documents`` and ``generate_gold_triples`` for ``n`` docs."""
    from llm_information_extraction_spark.sources import (
        generate_documents, generate_gold_triples,
    )

    params = dict(seed=seed, hot_entity_skew=ZIPF_SKEW,
                  oversized_doc_pct=OVERSIZED_PCT)
    docs = generate_documents(spark, n, **params).toArrow().sort_by("doc_id")
    return docs, generate_gold_triples(spark, n, **params).toArrow()


def plant_copies(docs: list[dict], k: int, seed: int) -> list[tuple[str, str]]:
    """Append ``k`` near-duplicate copies of distinct originals to ``docs``.
    Each copy gets a fresh id and two words appended to its last section
    span. Returns (copy id, original id) pairs."""
    rng = np.random.default_rng(seed + 7919)
    n = len(docs)
    pairs = []
    for j, src in enumerate(rng.choice(n, size=k, replace=False)):
        orig = docs[int(src)]
        spans = [dict(s) for s in orig["spans"]]
        last = max(i for i, s in enumerate(spans) if s["kind"] == "section")
        words = rng.choice(len(EDIT_WORDS), size=2, replace=False)
        spans[last]["text"] += " " + " ".join(EDIT_WORDS[w] for w in words)
        copy_id = f"doc_{n + j:09d}"
        docs.append({"doc_id": copy_id, "spans": spans})
        pairs.append((copy_id, orig["doc_id"]))
    return pairs


def build_doc_inputs(spark, seed: int, fast: bool, out: Path) -> dict:
    """The planted-duplicate corpus, once whole (``docs.parquet``, for the
    batch pipeline) and once cut into arrival-ordered files (``stream/``)."""
    n, k, files = DOC_SIZES["fast" if fast else "full"]
    generated, gold = generate(spark, n, seed)
    docs = generated.to_pylist()
    pairs = plant_copies(docs, k, seed)
    write = lambda rows, path: pq.write_table(  # noqa: E731
        pa.Table.from_pylist(rows, schema=generated.schema), path)
    write(docs, out / "docs.parquet")
    pq.write_table(pa.table({"copy_id": [c for c, _ in pairs],
                             "orig_id": [o for _, o in pairs]}),
                   out / "copies.parquet")
    # a planted copy's gold is its original's
    rows = gold.to_pylist()
    by_doc: dict[str, list[dict]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    rows += [dict(r, doc_id=c) for c, o in pairs for r in by_doc.get(o, [])]
    pq.write_table(pa.Table.from_pylist(rows, schema=gold.schema),
                   out / "gold.parquet")
    # shuffled, so a copy arrives in its original's micro-batch or a later
    # or earlier one
    order = np.random.default_rng(seed + 104729).permutation(len(docs))
    (out / "stream").mkdir()
    for f, part in enumerate(np.array_split(order, files)):
        write([docs[int(i)] for i in part], out / "stream" / f"part-{f:03d}.parquet")
    return {"n_orig": n, "n_copies": k, "files": files, "seed": seed}


# -- query mix ---------------------------------------------------------------------
def oracle_counts(table_dir: Path, names: list[str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over ``table_dir``."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(table_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    return {
        q: con.execute(f"SELECT count(*) FROM ({oracles[q]})").fetchone()[0]
        for q in names
    }


def build_query_inputs(fast: bool, out: Path) -> dict:
    from perfbench.queries import HEADLINE, TAIL

    tables = QUERY_DATA["fast" if fast else "full"]
    counts = oracle_counts(tables, HEADLINE + TAIL)
    (out / "oracle_counts.json").write_text(json.dumps(counts, indent=1))
    return {"tables": str(tables.relative_to(ROOT))}


def prepare(fast: bool, cache: Path) -> Path:
    """Count the oracle rows once per key; reuse them after that."""
    out = cache / cache_key(fast)
    if (out / "inputs.json").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    info = build_query_inputs(fast, tmp)
    (tmp / "inputs.json").write_text(json.dumps(info))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="cache directory")
    ap.add_argument("--result", type=Path, required=True)
    ap.add_argument("--fast", action="store_true")
    a = ap.parse_args()
    out = prepare(a.fast, Path(a.out))
    a.result.write_text(json.dumps({"inputs": str(out)}))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [str(ROOT)]
    sys.exit(main())
