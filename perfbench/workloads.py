"""The benchmark workloads: jobs, layer probes and output checks.

Every job is split in two halves. The *write half* consumes the input rows
(``rows_per_s`` = input rows / write-half seconds); the *read half*
consumes only what the write half stored (``merge_s_p50``). Spans wrap
each call into the program's public functions; with a ``NullTracer``
they cost nothing. ``probe`` runs, in traced runs only, the lazily
evaluated layers on their own (each forced to a ``noop`` sink) so their
time can be attributed, and records the layer counts.

Checks compare the program's outputs with plain Spark aggregations and
pure-Python references; a mismatch is returned as a message and counts the job as failed.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from whylogs_java_spark import finalize_profile, profile_atoms
from whylogs_java_spark.operators.approx import sketch_profile
from whylogs_java_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_candidate_pairs,
    near_dup_pairs,
    resolve_clusters,
)
from whylogs_java_spark.operators.profile import compact_profile_atoms
from whylogs_java_spark.operators.text import quality_metrics
from whylogs_java_spark.plans.spark_sql import build_atoms_sql
from whylogs_java_spark.sources import protobuf as pb
from whylogs_java_spark.sources.sinks import read_profile_atoms, write_profile_atoms

from checks import jaccard, min_id_components, pb_delimited, profile_counts, word_shingles

NEAR_THRESHOLD = 0.5
TINY_ROWS = 400


@dataclass
class JobResult:
    write_s: float
    read_s: list[float]
    output_bytes: int
    recall: float = 1.0
    outputs: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's _SUCCESS and .crc
    side files excluded)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def plan_shape(df) -> tuple[int, int]:
    """(non-codegen operators, final-aggregate expressions) of ``df``'s
    physical plan, planned with adaptive execution off so whole-stage
    codegen boundaries are visible before execution. Exchanges and plan
    wrappers are not operators here."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df._jdf.queryExecution().executedPlan()
        counts = [0, 0]

        def walk(node, inside: bool) -> None:
            name = node.nodeName()
            kids = node.children()
            children = [kids.apply(i) for i in range(kids.size())]
            if name.startswith("WholeStageCodegen"):
                inside = True
            elif name == "InputAdapter":
                inside = False
            elif not inside and not name.endswith("Exchange"):
                counts[0] += 1
            if name.endswith("Aggregate"):
                aggs = node.aggregateExpressions()
                if aggs.size() and str(aggs.apply(0).mode()) in ("Final", "Complete"):
                    counts[1] += aggs.size()
            for c in children:
                walk(c, inside)

        walk(plan, False)
        return counts[0], counts[1]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


class Workload:
    name = ""
    rows = 0
    reads = 2  # read halves per job in untraced runs; merge_s_p50 is their median

    def __init__(self, inputs: str, manifest: dict, work: str):
        self.inputs = inputs
        self.manifest = manifest
        self.work = work

    def out(self, job: int) -> str:
        d = os.path.join(self.work, "out", f"job-{job}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def source(self, spark):
        raise NotImplementedError

    def tiny_job(self, spark) -> None:
        raise NotImplementedError

    def expected(self, spark) -> dict:
        raise NotImplementedError

    def job(self, spark, tr, out: str, reads: int) -> JobResult:
        """The write half once, then the read half ``reads`` times."""
        raise NotImplementedError

    def check(self, spark, res: JobResult, exp: dict) -> list[str]:
        raise NotImplementedError

    def probe(self, spark, tr, out: str) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# profile_store
# ---------------------------------------------------------------------------


class ProfileStore(Workload):
    """Few columns, many tags, hourly buckets over two days: the number of
    profiles, not rows, sets the cost. Each day's rows go to their own wire
    file; the read half merges both files."""

    name = "profile_store"
    keys = ["tag", "dataset_timestamp"]
    reads = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.src = os.path.join(self.inputs, "store")
        self.rows = self.manifest["shapes"]["store"][0]

    def source(self, spark):
        return spark.read.parquet(self.src)

    @staticmethod
    def halves(df):
        cut = F.lit("2024-01-02 00:00:00").cast("timestamp")
        return df.where(F.col("ts") < cut), df.where(F.col("ts") >= cut)

    def atoms(self, df, grain: str = "hour"):
        return profile_atoms(df, group_by=["tag"], time_column="ts", time_granularity=grain)

    def tiny_job(self, spark) -> None:
        noop(self.atoms(self.source(spark).limit(TINY_ROWS)))

    def expected(self, spark) -> dict:
        df = self.source(spark)
        first, second = self.halves(df)
        exp = {
            "tag_rows": {
                r["tag"]: r["n"]
                for r in df.groupBy("tag").agg(F.count(F.lit(1)).alias("n")).collect()
            },
            "half_tags": [h.select("tag").distinct().count() for h in (first, second)],
            "day_atoms": {
                (r["tag"], r["dataset_timestamp"], r["column_name"]): r.asDict()
                for r in self.atoms(df, "day").collect()
            },
        }
        return exp

    def job(self, spark, tr, out: str, reads: int) -> JobResult:
        df = self.source(spark)
        atoms_path = os.path.join(out, "atoms")
        parts = [os.path.join(out, "wire", f"part-{i}.bin") for i in range(2)]
        merged = os.path.join(out, "merged.bin")
        t0 = time.perf_counter()
        with tr.span("sources.write_profile_atoms"):
            with tr.span("plans.build", stages=False):
                atoms = self.atoms(df)
            write_profile_atoms(atoms, atoms_path)
        msgs = []
        for half, path in zip(self.halves(df), parts):
            with tr.span("sources.write_profile_bin_distributed"):
                msgs.append(pb.write_profile_bin_distributed(half, path, group_by=["tag"]))
        t1 = time.perf_counter()
        read_s = []
        for _ in range(reads):
            t2 = time.perf_counter()
            with tr.span("sources.merge_profile_bins"):
                n_merged = pb.merge_profile_bins(spark, parts, merged)
            with tr.span("operators.compact_profile_atoms"):
                compacted = compact_profile_atoms(
                    read_profile_atoms(spark, atoms_path), self.keys, "day"
                ).collect()
            read_s.append(time.perf_counter() - t2)
        wire_bytes = sum(dir_bytes(p) for p in parts)
        tr.count("sources.write_profile_atoms.bytes", dir_bytes(atoms_path))
        tr.count("sources.write_profile_bin_distributed.messages", sum(msgs))
        tr.count("sources.write_profile_bin_distributed.bytes", wire_bytes)
        return JobResult(
            t1 - t0, read_s, dir_bytes(atoms_path) + wire_bytes,
            outputs={"msgs": msgs, "n_merged": n_merged, "merged": merged,
                     "compacted": compacted, "parts": parts},
        )

    def check(self, spark, res: JobResult, exp: dict) -> list[str]:
        bad: list[str] = []
        o = res.outputs
        if o["msgs"] != exp["half_tags"]:
            bad.append(f"wire messages {o['msgs']} != distinct tags {exp['half_tags']}")
        tag_rows = exp["tag_rows"]
        if o["n_merged"] != len(tag_rows):
            bad.append(f"merged messages {o['n_merged']} != distinct tags {len(tag_rows)}")
        with open(o["merged"], "rb") as f:
            data = f.read()
        seen, found = 0, set()
        for msg in pb_delimited(data):
            tags, counts = profile_counts(msg)
            want = tag_rows.get(tags.get("whylogs.tag.tag"))
            seen += 1
            found.add(tags.get("whylogs.tag.tag"))
            if want is None or any(v != want for v in counts.values()) or not counts:
                bad.append(f"merged tag {tags}: counts {set(counts.values())} != {want}")
        if seen != len(tag_rows):
            bad.append(f"merged file holds {seen} messages")
        res.recall = len(found & tag_rows.keys()) / len(tag_rows)
        day = exp["day_atoms"]
        if len(o["compacted"]) != len(day):
            bad.append(f"compacted rows {len(o['compacted'])} != {len(day)}")
        for r in o["compacted"]:
            e = day.get((r["tag"], r["dataset_timestamp"], r["column_name"]))
            if e is None:
                bad.append(f"compacted: unexpected {r['tag']} {r['dataset_timestamp']}")
                continue
            for k, v in r.asDict().items():
                w = e[k]
                if isinstance(v, float) and isinstance(w, float):
                    if not math.isclose(v, w, rel_tol=1e-9, abs_tol=1e-9):
                        bad.append(f"compacted {r['column_name']}.{k}: {v} != {w}")
                elif v != w:
                    bad.append(f"compacted {r['column_name']}.{k}: {v} != {w}")
        return bad

    def probe(self, spark, tr, out: str) -> None:
        df = self.source(spark)
        with tr.span("sources.scan"):
            noop(df)
        with tr.span("operators.profile_atoms"):
            with tr.span("plans.build", stages=False):
                atoms = self.atoms(df)
            noop(atoms)
        with tr.span("operators.sketch_profile"):
            noop(sketch_profile(df.drop("ts"), group_by=["tag"]))
        atoms_path = os.path.join(out, "atoms")
        with tr.span("operators.finalize_profile"):
            fin = finalize_profile(read_profile_atoms(spark, atoms_path), self.keys).collect()
        groups: dict = {}
        for r in fin:
            groups.setdefault((r["tag"], r["dataset_timestamp"]), []).append(r.asDict())
        t0 = time.perf_counter()
        for (tag, _), rows in groups.items():
            pb.dataset_profile_message(rows, tags={"whylogs.tag.tag": tag})
        tr.count("sources.encode_msgs_per_s", len(groups) / (time.perf_counter() - t0))
        parts = [os.path.join(out, "wire", f"part-{i}.bin") for i in range(2)]
        with tr.span("sources.read_profile_bin"):
            noop(pb.read_profile_bin(spark, parts))
        blobs = []
        for p in parts:
            with open(p, "rb") as f:
                blobs.append(f.read())
        t0 = time.perf_counter()
        n = sum(1 for b in blobs for m in pb.iter_delimited(b) if pb.decode_dataset_profile(m))
        tr.count("sources.decode_msgs_per_s", n / (time.perf_counter() - t0))
        sql, _ = build_atoms_sql(
            "{src}", {f.name: f.dataType for f in df.schema.fields}, ["tag"], "ts", "hour"
        )
        tr.count("plans.sql_chars", len(sql))
        ops, aggs = plan_shape(self.atoms(df))
        tr.count("plans.non_codegen_ops", ops)
        tr.count("functions.agg_exprs", aggs)


# ---------------------------------------------------------------------------
# dedup_corpus
# ---------------------------------------------------------------------------


class DedupCorpus(Workload):
    """Zipf-vocabulary corpus with planted exact copies and near-duplicates."""

    name = "dedup_corpus"
    reads = 5  # the read half is short: more samples of it per job

    def __init__(self, *a):
        super().__init__(*a)
        self.src = os.path.join(self.inputs, "corpus")
        self.rows = self.manifest["shapes"]["corpus"][0]

    def source(self, spark):
        return spark.read.parquet(self.src)

    def tiny_job(self, spark) -> None:
        noop(near_dup_pairs(self.source(spark).limit(TINY_ROWS), "text", "doc_id"))

    def expected(self, spark) -> dict:
        t = pq.read_table(os.path.join(self.src, "part-0.parquet"))
        texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        truth = self.manifest["corpus_truth"]
        groups: dict[str, list[int]] = {}
        for i, s in texts.items():
            groups.setdefault(" ".join(s.lower().split()), []).append(i)
        dup_groups = sorted(sorted(g) for g in groups.values() if len(g) > 1)
        if dup_groups != truth["exact_groups"]:
            raise RuntimeError("generated corpus has unplanted exact duplicates")
        shingles = {i: word_shingles(s) for i, s in texts.items()}
        eligible = [
            (a, b) for a, b, _ in truth["near_pairs"]
            if jaccard(shingles[a], shingles[b]) >= NEAR_THRESHOLD
        ]
        return {
            "texts": texts,
            "shingles": shingles,
            "exact": sorted((g[0], len(g)) for g in dup_groups),
            "eligible": eligible,
        }

    def job(self, spark, tr, out: str, reads: int) -> JobResult:
        df = self.source(spark)
        paths = {k: os.path.join(out, k) for k in ("exact", "near", "quality", "clusters")}
        t0 = time.perf_counter()
        with tr.span("operators.exact_duplicate_groups"):
            exact_duplicate_groups(df, "text", "doc_id").write.parquet(paths["exact"])
        with tr.span("operators.near_dup_pairs"):
            near_dup_pairs(df, "text", "doc_id", threshold=NEAR_THRESHOLD).write.parquet(
                paths["near"]
            )
        with tr.span("operators.quality_metrics"):
            quality_metrics(df, "text", "doc_id").write.parquet(paths["quality"])
        t1 = time.perf_counter()
        written = sum(dir_bytes(p) for p in paths.values())
        read_s = []
        for _ in range(reads):
            t2 = time.perf_counter()
            with tr.span("operators.resolve_clusters"):
                pairs = spark.read.parquet(paths["near"]).select("id_a", "id_b")
                resolve_clusters(pairs, df.select("doc_id"), "doc_id").write.mode(
                    "overwrite"
                ).parquet(paths["clusters"])
            read_s.append(time.perf_counter() - t2)
        return JobResult(t1 - t0, read_s, written, outputs=paths)

    def check(self, spark, res: JobResult, exp: dict) -> list[str]:
        bad: list[str] = []
        o = res.outputs
        exact = sorted(
            (r["keep_id"], r["n_docs"])
            for r in spark.read.parquet(o["exact"]).where("n_docs > 1").collect()
        )
        if exact != exp["exact"]:
            bad.append(f"exact groups: {len(exact)} reported, {len(exp['exact'])} planted")
        pairs = [
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(o["near"]).select("id_a", "id_b").collect()
        ]
        sh = exp["shingles"]
        low = [p for p in pairs if jaccard(sh[p[0]], sh[p[1]]) < NEAR_THRESHOLD - 1e-6]
        if low:
            bad.append(f"{len(low)} reported near pairs below Jaccard {NEAR_THRESHOLD}: {low[:3]}")
        if len(set(pairs)) != len(pairs):
            bad.append("duplicate near pairs reported")
        got = set(pairs)
        res.recall = sum(1 for p in exp["eligible"] if tuple(p) in got) / len(exp["eligible"])
        q = spark.read.parquet(o["quality"]).select("doc_id", "word_count").collect()
        texts = exp["texts"]
        if len(q) != len(texts) or any(
            r["word_count"] != len(texts[r["doc_id"]].split(" ")) for r in q
        ):
            bad.append("quality_metrics word counts differ from the corpus")
        comp = min_id_components(pairs)
        cl = spark.read.parquet(o["clusters"]).select("doc_id", "cluster_id").collect()
        wrong = [r for r in cl if r["cluster_id"] != comp.get(r["doc_id"], r["doc_id"])]
        if wrong or len({r["doc_id"] for r in cl} | set(comp)) != len(cl):
            bad.append(f"clusters: {len(wrong)} wrong labels over {len(cl)} rows")
        return bad

    def probe(self, spark, tr, out: str) -> None:
        df = self.source(spark)
        with tr.span("sources.scan"):
            noop(df)
        with tr.span("operators.minhash_candidate_pairs"):
            cands = minhash_candidate_pairs(df, "text", "doc_id").count()
        verified = spark.read.parquet(os.path.join(out, "near")).count()
        tr.count("operators.near_dup_pairs.candidates", cands)
        tr.count("operators.near_dup_pairs.verified", verified)
        tr.count("operators.near_dup_pairs.verify_yield", verified / cands if cands else 0.0)


WORKLOADS = {w.name: w for w in (ProfileStore, DedupCorpus)}

