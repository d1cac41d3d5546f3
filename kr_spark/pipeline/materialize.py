"""Materialization: dedup'd triple table, pred-bucket partitioned, with
per-partition checkpoint manifest (lineage + extraction-count metrics) for
mid-run resume (north_rule requirement).

Layout (SURVEY §4.4): parquet (Iceberg-ready; no Iceberg jar in this image —
see sources/store.py) partitioned by `p_bucket = pmod(xxhash64(p), N)`.
Bucketing the PREDICATE keeps hot predicates (rdf:type-scale skew) spread by
the bucket hash while still enabling partition pruning for
predicate-constant BGP scans (pattern compiler filters on p; a stats-aware
reader maps p -> bucket and prunes).

Checkpoint protocol:
  * work is split into `n_buckets` input buckets by pmod(xxhash64(conv_id)).
  * each bucket runs extract->emit independently; its output lands in
    `out/stage_extract/bucket=<i>/` and a manifest line
    {bucket, rows_in, triples_out, wall_s, lineage} is appended ATOMICALLY
    (write temp file + rename) to `out/_manifest/bucket-<i>.json`.
  * resume = skip buckets whose manifest file exists (exactly-once per
    bucket: a killed bucket leaves no manifest, its partial parquet dir is
    overwritten on retry — rename-commit makes the manifest the source of
    truth).
  * the global stages (link/canonicalize/write) re-run from the union of
    completed bucket outputs; they are deterministic, so kill+resume yields
    a bit-identical final table (tested in tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kr_spark.sources.store import DEFAULT_PRED_BUCKETS


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def completed_buckets(out_dir: str) -> set[int]:
    d = _manifest_dir(out_dir)
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("bucket-") and name.endswith(".json"):
            out.add(int(name[len("bucket-") : -len(".json")]))
    return out


def read_manifests(out_dir: str) -> list[dict]:
    d = _manifest_dir(out_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


def _commit_manifest(out_dir: str, bucket: int, record: dict) -> None:
    d = _manifest_dir(out_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".bucket-{bucket}.json.tmp")
    final = os.path.join(d, f"bucket-{bucket}.json")
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, final)  # atomic commit


def ingest_transcripts(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, n_buckets: int = 8
) -> DataFrame:
    """Snapshot the input to `out_dir/stage_ingest` parquet once, partitioned
    by the work bucket `pmod(xxhash64(conv_id), n_buckets)`, and return the
    parquet-backed frame (with the `__bucket` partition column).

    Bucket-partitioning the snapshot is what makes per-bucket resume scans
    cheap: each bucket job's `__bucket = b` filter becomes parquet partition
    PRUNING (reads 1/n_buckets of the data) instead of an 8x-amplified full
    scan — the same layout an Iceberg transcripts table would get from a
    bucket(conv_id) partition transform. n_buckets must match the extract
    stage's (run_pipeline passes one value to both).

    Two reasons this is load-bearing:
      * resume-stable input — a kill+resume re-run must see bit-identical
        rows even if the upstream frame is expensive or non-reproducible;
        the snapshot (committed by parquet's _SUCCESS marker) is the frozen
        input of record, exactly like reading the Iceberg transcripts
        snapshot on a real cluster.
      * plan hygiene — every per-bucket job downstream becomes a pruned
        parquet scan instead of re-evaluating the upstream plan. With the
        synthetic generator that plan is a >64KB codegen unit (janino gives
        up -> interpreted fallback), re-paid once per bucket job without
        this boundary; with it, generation runs exactly once.
    """
    path = os.path.join(out_dir, "stage_ingest")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            transcripts.withColumn(
                "__bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
            )
            # explicit task-local sort on the partition column: the planner
            # then skips its own dynamic-partition sort, whose interpreted
            # fallback path was ~8x slower under high task concurrency
            .sortWithinPartitions("__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(path)
        )
        # record the bucketing the snapshot was written with: a resume into
        # this out_dir must extract with the SAME n_buckets or rows in
        # buckets >= the smaller count would silently never be extracted
        with open(os.path.join(path, "_n_buckets.json"), "w") as f:
            json.dump({"n_buckets": n_buckets}, f)
    return spark.read.parquet(path)


def snapshot_n_buckets(out_dir: str) -> int | None:
    """n_buckets the committed ingest snapshot was written with, or None if
    no snapshot exists. Source of truth for resume (falls back to the
    partition directories for snapshots predating the sidecar)."""
    path = os.path.join(out_dir, "stage_ingest")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    meta = os.path.join(path, "_n_buckets.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return int(json.load(f)["n_buckets"])
    vals = [
        int(name.split("=", 1)[1])
        for name in os.listdir(path)
        if name.startswith("__bucket=")
    ]
    return max(vals) + 1 if vals else None


def run_extract_stage(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    use_arrow_extractor: bool = True,
) -> int:
    """Bucketed, resumable extraction. Returns number of buckets run now.

    fail_after: test hook — raise after N buckets to simulate a mid-run kill.
    """
    from kr_spark.pipeline.extract import (
        extract_relations_arrow,
        extract_relations_expr,
    )

    done = completed_buckets(out_dir)
    if "__bucket" in transcripts.columns:
        # pre-bucketed snapshot (ingest_transcripts): the per-bucket filter
        # prunes parquet partitions instead of rescanning everything
        bucketed = transcripts
    else:
        bucketed = transcripts.withColumn(
            "__bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
        )

    n_workers = min(8, max(1, n_buckets))
    # per-bucket task width: concurrent bucket jobs share the cluster, so
    # give each roughly cores/n_workers tasks. Without this, k concurrent
    # jobs x full-width scans queue k*cores tiny tasks, and every Arrow UDF
    # task forks a fresh Python worker — the fork storm costs more than the
    # extraction itself (observed 5x wall-time at local[32]).
    width = max(1, spark.sparkContext.defaultParallelism // n_workers)

    def _run_bucket(b: int) -> None:
        from pyspark.sql import Observation

        t0 = time.time()
        part = bucketed.filter(F.col("__bucket") == b).drop("__bucket").coalesce(width)
        # manifest metrics ride along on the write job via CollectMetrics
        # nodes — one action per bucket instead of write + two count jobs
        obs_in, obs_out = Observation(), Observation()
        part = part.observe(obs_in, F.count(F.lit(1)).alias("n"))
        extractor = extract_relations_arrow if use_arrow_extractor else extract_relations_expr
        extracted = extractor(part).observe(obs_out, F.count(F.lit(1)).alias("n"))
        path = os.path.join(out_dir, "stage_extract", f"bucket={b}")
        extracted.write.mode("overwrite").parquet(path)
        rows_in = obs_in.get["n"]
        triples_out = obs_out.get["n"]
        _commit_manifest(
            out_dir,
            b,
            {
                "bucket": b,
                "rows_in": rows_in,
                "triples_out": triples_out,
                "wall_s": round(time.time() - t0, 3),
                "lineage": {
                    "stage": "extract",
                    "extractor": "arrow" if use_arrow_extractor else "expr",
                    "input": "transcripts",
                    "bucket_fn": f"pmod(xxhash64(conv_id), {n_buckets})",
                },
            },
        )

    todo = [b for b in range(n_buckets) if b not in done]
    if fail_after is not None:
        # test hook: run fail_after buckets sequentially, then die — models a
        # mid-run kill with a deterministic set of committed manifests
        for b in todo[:fail_after]:
            _run_bucket(b)
        raise RuntimeError(f"injected failure after {fail_after} buckets")

    # buckets are independent units of work; submit them concurrently and
    # let the Spark scheduler interleave their stages (a bucket is far
    # smaller than the cluster, so serial submission leaves cores idle —
    # same driver-side pattern as the reference's pmap-query fan-out,
    # sparql.clj:613-640, but over partition-bucket jobs)
    from concurrent.futures import ThreadPoolExecutor

    if todo:
        with ThreadPoolExecutor(max_workers=n_workers) as pool:
            list(pool.map(_run_bucket, todo))
    return len(todo)


def load_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "stage_extract"))


def materialize_triples(
    spark: SparkSession,
    out_dir: str,
    salt: int = 0,
    pred_buckets: int = DEFAULT_PRED_BUCKETS,
) -> DataFrame:
    """Global stages: link -> canonicalize -> rewrite -> dedup -> write.
    Deterministic given the extract-stage outputs."""
    from kr_spark.pipeline.extract import mentions_from_extractions
    from kr_spark.pipeline.link import (
        canonical_surface_mapping,
        link_entities,
        normalize_surface,
    )
    from kr_spark.pipeline.transcripts import ENT_NS

    from kr_spark.operators.canon import maybe_broadcast

    extracted = load_extracted(spark, out_dir)
    # checkpoint the mention set once: it is the DISTINCT surface forms
    # (bounded by the entity vocabulary, tiny next to the corpus), but its
    # plan is a full scan+distinct of the extract output — which the LSH
    # band self-join, the scorer, and the singleton anti-join would each
    # otherwise recompute (3 extra corpus-scale scans per run)
    mentions = mentions_from_extractions(extracted).localCheckpoint()
    edges = link_entities(mentions)
    mapping = canonical_surface_mapping(mentions, edges, salt=salt)

    # size-gated broadcast (VERDICT r1 #6): the mapping has one row per
    # distinct mention surface — plausibly 10^8-9 at 10^12-turn scale, far
    # past broadcastability. Checkpoint once (reused by both join sides and
    # the size probe), hint only when provably small.
    m = maybe_broadcast(mapping.localCheckpoint())
    s_map = m.select(F.col("surface").alias("__ss"), F.col("canonical").alias("__sc"))
    o_map = m.select(F.col("surface").alias("__os"), F.col("canonical").alias("__oc"))
    triples = (
        extracted.join(s_map, extracted["subj_surface"] == F.col("__ss"), "left")
        .join(o_map, extracted["obj_surface"] == F.col("__os"), "left")
        .select(
            F.concat(
                F.lit(ENT_NS),
                F.coalesce(F.col("__sc"), normalize_surface(F.col("subj_surface"))),
            ).alias("s"),
            F.col("pred").alias("p"),
            F.concat(
                F.lit(ENT_NS),
                F.coalesce(F.col("__oc"), normalize_surface(F.col("obj_surface"))),
            ).alias("o"),
            F.col("conv_id"),
            F.col("turn_idx"),
        )
    )
    # set semantics on (s,p,o): keep min provenance for determinism
    deduped = triples.groupBy("s", "p", "o").agg(
        F.min("conv_id").alias("conv_id"), F.min("turn_idx").alias("turn_idx")
    )
    final = deduped.select(
        F.lit("uri").alias("s_kind"),
        "s",
        "p",
        F.lit("uri").alias("o_kind"),
        "o",
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("decimal(38,9)").alias("num_val"),
        F.lit(None).cast("string").alias("graph"),
        "conv_id",
        "turn_idx",
        F.lit("extract.v1").alias("rule_id"),
        F.pmod(F.xxhash64("p"), F.lit(pred_buckets)).alias("p_bucket"),
    )
    path = os.path.join(out_dir, "triples")
    # repartition by the physical partition key so each task writes one
    # directory (avoids the N_tasks × N_partitions small-file explosion)
    final.repartition(pred_buckets, "p_bucket").sortWithinPartitions(
        "p_bucket", "p", "s"
    ).write.mode("overwrite").partitionBy("p_bucket").parquet(path)
    return spark.read.parquet(path)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    use_arrow_extractor: bool = True,
    snapshot_input: bool = True,
) -> DataFrame:
    """End-to-end: input snapshot + resumable extract stage + global
    materialize.

    On resume into an existing out_dir the snapshot's recorded n_buckets is
    authoritative: extracting with a smaller count would iterate fewer
    buckets than the snapshot's __bucket assignment and silently drop the
    rest (ADVICE r1, medium).

    snapshot_input=False skips the ingest copy and buckets the input
    VIRTUALLY (a pmod(xxhash64(conv_id)) filter per bucket job). Right
    when the input is already a durable immutable table (an Iceberg
    snapshot / committed parquet) — at 100 TB the snapshot is a full
    rewrite of the corpus. Trade-off: without the physical __bucket
    partitioning, each bucket job's filter is a full scan (n_buckets-fold
    read amplification on a plain parquet path; an Iceberg table
    bucket-partitioned by conv_id prunes it back to 1/n). Resume stability
    then rests on the TABLE's immutability instead of the local snapshot.

    Both modes record their bucketing pin (snapshot: inside the snapshot
    dir; virtual: an out_dir sidecar) and BOTH pins are consulted on every
    run — resuming an out_dir in the other mode, or with disagreeing pins,
    raises instead of silently re-bucketing against already-committed
    extract manifests (ADVICE r3, medium)."""
    snap_pin = snapshot_n_buckets(out_dir)
    meta = os.path.join(out_dir, "_n_buckets.json")
    side_pin = side_mode = None
    if os.path.exists(meta):
        with open(meta) as f:
            d = json.load(f)
        side_pin = int(d["n_buckets"])
        side_mode = d.get("mode", "virtual")
    if snap_pin is not None and side_pin is not None and snap_pin != side_pin:
        raise ValueError(
            f"out_dir {out_dir!r} carries conflicting n_buckets pins: "
            f"snapshot={snap_pin} sidecar={side_pin} — refuse to resume"
        )
    mode = "snapshot" if snapshot_input else "virtual"
    recorded_mode = (
        "snapshot" if snap_pin is not None
        else (side_mode if side_pin is not None else None)
    )
    if recorded_mode is not None and recorded_mode != mode:
        raise ValueError(
            f"out_dir {out_dir!r} was started with {recorded_mode}-input "
            f"mode; resume with the same mode or use a fresh out_dir "
            f"(silent re-bucketing against committed extract manifests)"
        )
    effective = snap_pin if snap_pin is not None else (
        side_pin if side_pin is not None else n_buckets
    )
    if snapshot_input:
        snapshot = ingest_transcripts(spark, transcripts, out_dir, n_buckets=effective)
    else:
        # same resume guarantee without a snapshot: pin n_buckets (and the
        # input mode) in a sidecar so a resume can't silently re-bucket
        # (the ADVICE r1 hazard, virtual-bucket edition)
        if side_pin is None:
            os.makedirs(out_dir, exist_ok=True)
            with open(meta, "w") as f:
                json.dump({"n_buckets": effective, "mode": "virtual"}, f)
        snapshot = transcripts  # bucketed virtually in run_extract_stage
    run_extract_stage(
        spark,
        snapshot,
        out_dir,
        n_buckets=effective,
        fail_after=fail_after,
        use_arrow_extractor=use_arrow_extractor,
    )
    return materialize_triples(spark, out_dir)


def precision_recall(emitted: DataFrame, truth: DataFrame) -> tuple[float, float]:
    """Set P/R of emitted (s,p,o) vs ground truth (FIXTURES.md §D)."""
    e = emitted.select("s", "p", "o").distinct()
    t = truth.select("s", "p", "o").distinct()
    n_e = e.count()
    n_t = t.count()
    n_common = e.join(t, on=["s", "p", "o"], how="inner").count()
    precision = n_common / n_e if n_e else 0.0
    recall = n_common / n_t if n_t else 0.0
    return precision, recall
