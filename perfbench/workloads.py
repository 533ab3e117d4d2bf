"""Workload definitions and input preparation.

Each workload names the registered queries it runs and the fixture scale
its read-only tables come from. Inputs are linked
read-only from the fixture directory (`GRAFT_BENCH_TESTDATA`, default
~/testdata) into the run's own data directory; `oneshot` replaces
`documents` with a corpus generated from the seed.
"""
import hashlib
import os
from pathlib import Path

import corpus

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Each workload's `queries` run in every benchmark run, a few representative
# queries of its family, sized so that the benchmark's runs fit its time
# budget. `pass_s` is the nominal wall time of one pass over `queries` on a
# 4-core host.
WORKLOADS = {
    "iterative": {
        "why": "driver-paced loops, a store consumer and a micro-batch drain: build jobs dominate",
        "sf": "sf0.1",
        "pass_s": 6.0,
        "queries": ["q124_pagerank", "q94_consensus_dedup", "q102_stream_dedup"],
    },
    "oneshot": {
        "why": "single-plan text and TPC-H queries over a seeded corpus: exec dominates",
        "sf": "sf0.1",
        "corpus_docs": 20000,
        "pass_s": 5.5,
        "queries": ["hadoop_wordcount", "pairs_m1", "q280_tpch_q3", "q306_tpch_q6",
                    "q314_tpch_q13"],
    },
}


def fixture_dir(sf):
    root = Path(os.environ.get("GRAFT_BENCH_TESTDATA", Path.home() / "testdata"))
    d = root / sf
    missing = [t for t in TABLES if not (d / f"{t}.parquet").exists()]
    if missing:
        raise SystemExit(f"perfbench: fixture tables missing under {d}: {missing}")
    return d


def prepare_data(wl, seed, data, parts):
    """Links the fixture tables into `data` and returns the directory the
    oracle reads. A workload with a corpus gets `documents` generated from
    the seed, split into `parts` files for the engine and whole in a
    directory of its own for the oracle."""
    src = fixture_dir(wl["sf"])
    generated = "corpus_docs" in wl
    oracle = data.parent / "oracle" if generated else data
    for d in {data, oracle}:
        d.mkdir(exist_ok=True)
        for t in TABLES:
            if not (generated and t == "documents"):
                os.symlink(src / f"{t}.parquet", d / f"{t}.parquet")
    if generated:
        corpus.generate(seed, wl["corpus_docs"], parts, data / "documents.parquet",
                        oracle / "documents.parquet")
    return oracle


def source_stamp(root, bench):
    """Content hash of everything the build compiles."""
    files = [root / "build.sbt", root / "project/build.properties",
             bench / "build.sbt", bench / "project/build.properties"]
    for d in (root / "src/main", bench / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0")
        h.update(f.read_bytes() if f.exists() else b"<absent>")
    return h.hexdigest()
