"""The benchmark's workloads: what one pass does and how its outputs are
checked. ``run.py`` owns the session, the timing window and the report.

- ``geo_build``: the paper's one-shot job. A seeded synthetic WikiData
  dump goes through ``pipeline.ingest`` (parse, extract, parquet write
  barrier), then ``post_process`` and the three final-table writes.
- ``operator_mix``: the iterative and compute operators the roadmap's
  loop and latency-floor items target, on the fixed sf0.01 tables:
  pair generation (exact set-similarity join), a checkpointed
  fixed-point loop (PageRank rounds) and a CPU-bound Python/Arrow JPEG
  decoder.

A failed op is an exception or a failed output check; an op is one build
or one query execution.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from dumpgen import CLASS_SETS, make_dump

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data")
EXPECTED_PATH = os.path.join(BENCH, "expected.json")

OPERATOR_MIX = (
    "dedup_simjoin_exact",
    "g13_pagerank",
    "mm_image_decode_jpeg",
)

# input sizes: (dump entities, mix data dir) for the full and smoke scales
SCALES = {"full": (30_000, "sf0.01"), "smoke": (2_000, "sf0.001")}


@dataclass
class Outcome:
    """Ops attempted and failed over a run, and what the checks saw."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def digest(df) -> tuple[int, int]:
    """Force full evaluation: row count plus Σxxhash64 over every column,
    so Catalyst cannot prune computed projections (bench.py's force)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
    ).collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1 << 20)


# ------------------------------------------------------------ geo_build


class GeoBuild:
    def __init__(self, spark, tracer, work: str, seed: int, scale: str, expected: dict):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.n_entities = SCALES[scale][0]
        self.pinned_hash = expected.get("geo_build", {}).get(f"{scale}/seed{seed}")
        self.dump = os.path.join(work, "dump.json.bz2")
        self.want = make_dump(self.dump, self.n_entities, seed)
        # a small dump fits one split and would parse serially: split it
        # across the cores the way a full-size dump reads
        per_core = os.path.getsize(self.dump) // tracer.cores + 1
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(per_core))

    def run_pass(self, out: Outcome, index: int) -> tuple[float, dict[str, float]] | None:
        """One full build into its own directory: ingest, post, finals.
        Returns the build's wall and its two phase walls."""
        from geo_db_spark.pipeline import FINAL_TABLES, ingest
        from geo_db_spark.plans.geo_post import post_process

        base = os.path.join(self.work, f"build{index}")
        shutil.rmtree(base, ignore_errors=True)
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            with self.tracer.span("pipeline.ingest") as sp:
                tables = ingest(self.spark, self.dump, CLASS_SETS, out_dir=f"{base}/raw")
            t1 = time.perf_counter()
            with self.tracer.span("plans.geo_post.post_process") as spp:
                finals = post_process(tables)
                for name in FINAL_TABLES:
                    finals[name].write.mode("overwrite").parquet(f"{base}/final/{name}")
            t2 = time.perf_counter()
            sp["output_mb"] = _dir_mb(f"{base}/raw")
            problems, counts, final_rows, content = self._check(tables, f"{base}/final", FINAL_TABLES)
        except Exception as exc:  # an op that raises is a failed op
            out.fail(f"build {index}: {type(exc).__name__}: {exc}")
            return None
        spp["final_rows"] = final_rows
        out.info.setdefault("builds", []).append(
            {
                "ingest_s": t1 - t0,
                "post_s": t2 - t1,
                "ingest_entities_per_s": self.n_entities / (t1 - t0),
                "output_mb": _dir_mb(base),
                "content_hash": content,
            }
        )
        out.info["extracted_rows"] = self.counts = counts
        if problems:
            out.fail(f"build {index}: " + "; ".join(problems))
        return t2 - t0, {"ingest": t1 - t0, "post": t2 - t1}

    def _check(self, tables: dict, final_dir: str, final_names) -> tuple[list[str], dict, int, str]:
        from pyspark.sql import functions as F

        problems = []
        counts = {name: df.count() for name, df in tables.items()}
        for name, n in self.want.items():
            if counts.get(name) != n:
                problems.append(f"{name}: {counts.get(name)} rows, generator says {n}")
        finals = {n: self.spark.read.parquet(f"{final_dir}/{n}") for n in final_names}
        keys = {"cities": ["id"], "cities_labels": ["id", "lang"], "cities_languages": ["id", "lang"]}
        for name, key in keys.items():
            dups = finals[name].groupBy(*key).count().filter(F.col("count") > 1).limit(1).count()
            if dups:
                problems.append(f"{name}: primary key {key} not unique")
        for name in ("cities_labels", "cities_languages"):
            orphans = finals[name].join(finals["cities"], "id", "left_anti").limit(1).count()
            if orphans:
                problems.append(f"{name}: id not in cities")
        parts = {n: digest(df) for n, df in sorted(finals.items())}
        content = hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:16]
        if self.pinned_hash and content != self.pinned_hash:
            problems.append(f"content hash {content} != pinned {self.pinned_hash}")
        final_rows = sum(n for n, _ in parts.values())
        return problems, counts, final_rows, content

    def trace_layers(self) -> None:
        """Traced runs only, after a build: the read and the extraction as
        spans of their own (both also run inside ``pipeline.ingest``). The
        nine outputs are forced with the noop sink on the persisted
        entities; ``kept_ratio`` is geographic entities kept ÷ entities
        read."""
        from geo_db_spark.extract import class_sets_from_dict, extract_all
        from geo_db_spark.sources.wikidata import read_entity_dump

        with self.tracer.span("sources.read_entity_dump") as sp:
            entities = read_entity_dump(self.spark, self.dump).persist()
            sp["entities"] = n_in = entities.count()
        try:
            with self.tracer.span("extract.extract_all") as sp:
                outs = extract_all(entities, class_sets_from_dict(self.spark, CLASS_SETS))
                for df in outs.values():
                    df.write.format("noop").mode("overwrite").save()
        finally:
            entities.unpersist()
        # row counts of the build's outputs (checked against the generator)
        sp["rows_out"] = sum(self.counts.values())
        geo = ("countries", "territorial_entities", "cities", "missing_p17")
        sp["kept_ratio"] = sum(self.counts[t] for t in geo) / n_in


# ---------------------------------------------------------- operator_mix


class QueryMix:
    def __init__(self, spark, tracer, names, seed: int, scale: str, expected: dict):
        from geo_db_spark import workload

        self.spark, self.tracer = spark, tracer
        self.sf_dir = os.path.join(DATA, SCALES[scale][1])
        fns = workload.queries()
        self.queries = {n: fns[n] for n in names}
        self.pinned = expected.get("queries", {}).get(SCALES[scale][1], {})
        self.rng = random.Random(seed)

    def run_pass(self, out: Outcome, index: int) -> tuple[float, dict[str, float]]:
        """One pass over the queries in a seeded order. Each query is
        constructed (eager loop rounds and checkpoints run here), then
        forced by the digest action, which must equal the pinned,
        oracle-checked digest (so every pass also agrees with the first).
        Returns the pass wall and the wall of each query that completed."""
        order = sorted(self.queries)
        self.rng.shuffle(order)
        t_pass = time.perf_counter()
        walls = {}
        for name in order:
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("workload.construct", query=name):
                    df = self.queries[name](self.spark, self.sf_dir)
                with self.tracer.span("workload.action", query=name, task_times=True):
                    got = digest(df)
            except Exception as exc:
                out.fail(f"pass {index} {name}: {type(exc).__name__}: {exc}")
                continue
            walls[name] = time.perf_counter() - t0
            want = self.pinned.get(name)
            if want is None or tuple(want) != got:
                out.fail(f"pass {index} {name}: digest {got} != oracle-checked {want}")
        return time.perf_counter() - t_pass, walls
