"""Stage lineage + idempotent resume (BASELINE.json:6 — "every stage
checkpoints per-partition lineage and counters … so any executor
failure resumes idempotently from the last committed snapshot"), and
snapshot-pinned reads over the same commit record (operator S2).

Production design: Iceberg tables with atomic snapshot commits; the
lineage row commits in the same transaction as the data.  The sandbox
has no Iceberg runtime jar (no network — SURVEY.md §0), so this module
implements the documented parquet fallback behind the same interface:

- data writes are PARTITION-ALIGNED: each stage output is written as
  hive-partitioned parquet ``part=<bucket>`` with
  ``partitionOverwriteMode=dynamic`` (replaceWhere-style) so a re-run
  overwrites exactly the buckets it recomputes — idempotent under
  retries;
- the lineage row for a bucket is written AFTER its data lands, with
  tmp+rename (write ordering = commit protocol: a bucket is committed
  iff its lineage row exists and round-trips the checksum).  The row
  is the ONLY commit record: it carries the bucket's counters and the
  fileset (relative path → [size, mtime_ns]) scanned right after the
  write;
- resume = anti-join (operator J6) of the input's buckets against
  ``committed_buckets`` — run_resumable drops committed buckets' rows
  before the tagger, so only missing buckets recompute, and partition
  pruning keeps committed buckets out of the commit's stats read;
- the snapshot manifest ``_snapshots/<stage>/snap-<id>.json`` is a
  projection of the committed rows: the union of their filesets,
  appended (monotonic ids, each carrying its parent id — a linear
  history like Iceberg's metadata log) only when it differs from the
  parent.  A stray file never enters a snapshot (no row names it), a
  crash between the rows and the manifest is repaired by the next
  commit, and a no-op commit writes no manifest.

Snapshot reads pin the manifest's exact files, so readers never see a
torn write or a stray uncommitted file (plain directory scans do), and
``read_snapshot(…, id)`` re-reads an older table state for as long as
its files survive.  The parquet fallback's partition overwrite
REPLACES files (unlike Iceberg's copy-on-write), so a pinned snapshot
whose files are gone — or whose size OR mtime_ns integrity token
changed (in-place rewrite, even at identical size) — raises
:class:`SnapshotExpiredError` instead of silently returning wrong rows:
the same observable failure as reading an expired Iceberg snapshot
after ``expire_snapshots``.

Bucketing is ``pmod(xxhash64(conv_id), n_buckets)`` — a pure function
of the row, stable under retries and repartitioning.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

N_BUCKETS = 32
LINEAGE_TABLE = "_lineage"
SNAP_TABLE = "_snapshots"


class SnapshotExpiredError(RuntimeError):
    """The pinned snapshot's files were overwritten/removed."""


def with_bucket(df: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    return df.withColumn(
        "part", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _lineage_dir(root: str, stage: str) -> str:
    return os.path.join(root, LINEAGE_TABLE, stage)


def _row_path(root: str, stage: str, part: int) -> str:
    return os.path.join(_lineage_dir(root, stage), f"part-{part:05d}.json")


def _snap_dir(root: str, stage: str) -> str:
    return os.path.join(root, SNAP_TABLE, stage)


def _write_json(path: str, rec: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)  # atomic rename = the commit point


def lineage_rows(root: str, stage: str) -> list[dict]:
    """Every lineage row of a stage, ordered by bucket id: part,
    n_buckets, output_rows, checksum, committed_at and the bucket's
    fileset.  The single reader behind resume, validation and the
    snapshot manifest."""
    d = _lineage_dir(root, stage)
    if not os.path.isdir(d):
        return []
    rows = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                rows.append(json.load(f))
    return rows


def committed_buckets(
    root: str, stage: str, n_buckets: int | None = None
) -> list[int]:
    """Bucket ids with a committed lineage row.  When ``n_buckets`` is
    given, only rows committed UNDER THAT SAME bucket domain count: a
    bucket written at a different n_buckets holds different rows for
    the same id (pmod(h, 64) == 3 is not pmod(h, 8) == 3), so a domain
    change invalidates every prior bucket.  The one rule for what a
    resume may keep: commit_stage skips exactly these buckets, and
    run_resumable feeds each stage only rows outside them."""
    return [
        int(r["part"])
        for r in lineage_rows(root, stage)
        if n_buckets is None
        or (r["n_buckets"] == n_buckets and 0 <= r["part"] < n_buckets)
    ]


def _drop_stale_partitions(
    root: str, stage: str, rows: list[dict], keep: set[int]
) -> None:
    """Remove on-disk state this commit must not inherit: ``part=k``
    data dirs and lineage rows with k outside ``keep`` (the buckets
    validly committed under the current bucket domain).  That covers
    a prior run with a different n_buckets (same id, different rows)
    and a torn write (data without a row), so committed_buckets /
    validate_stage never see stale state."""
    data_dir = os.path.join(root, stage)
    if os.path.isdir(data_dir):
        for entry in os.listdir(data_dir):
            if not entry.startswith("part="):
                continue
            try:
                pid = int(entry.split("=", 1)[1])
            except ValueError:
                pid = -1
            if pid not in keep:
                shutil.rmtree(os.path.join(data_dir, entry))
    for r in rows:
        if r["part"] not in keep:
            os.remove(_row_path(root, stage, r["part"]))


def _bucket_files(data_dir: str, part: int | str) -> dict[str, list[int]]:
    """relative path → [size, mtime_ns] for the parquet files of one
    ``part=k`` dir.  The mtime_ns is the per-file integrity token: a
    file overwritten IN PLACE with identical name and size still gets
    a new mtime, so the expiry check catches it (one stat per file, no
    content hashing)."""
    out = {}
    bucket_dir = os.path.join(data_dir, f"part={part}")
    for fn in os.listdir(bucket_dir):
        if fn.endswith(".parquet"):
            st = os.stat(os.path.join(bucket_dir, fn))
            out[f"part={part}/{fn}"] = [st.st_size, st.st_mtime_ns]
    return out


def commit_stage(
    df: DataFrame,
    root: str,
    stage: str,
    n_buckets: int = N_BUCKETS,
    resume: bool = True,
) -> DataFrame:
    """Write ``df`` (must contain conv_id) partition-aligned with
    per-bucket lineage; on resume, skip already-committed buckets.

    Returns the full committed stage output (read back — committed
    buckets included), so downstream stages always see the complete
    table regardless of how much this run recomputed."""
    spark = df.sparkSession
    data_dir = os.path.join(root, stage)
    valid = set(range(n_buckets))
    rows = lineage_rows(root, stage)
    done = (
        set(committed_buckets(root, stage, n_buckets)) if resume else set()
    )
    kept = [r for r in rows if r["part"] in done]
    # Drop stale on-disk state BEFORE writing: dynamic overwrite only
    # replaces partitions present in this run's output, so a leftover
    # ``part=k`` dir from a prior run (different n_buckets, or a torn
    # uncommitted write) would otherwise survive, be swept into the
    # stats read-back, and get committed as valid lineage it never
    # earned.  Anything outside this run's bucket domain, or inside it
    # but uncommitted (no lineage row), is removable by definition —
    # committed buckets are exactly ``done``.
    _drop_stale_partitions(root, stage, rows, keep=done)
    bucketed = with_bucket(df, n_buckets)
    todo = bucketed.filter(~F.col("part").isin(sorted(done))) if done else bucketed

    # Write FIRST (the only pass over the recomputed stage), then
    # compute counters + checksum from the files just written: each
    # stage executes exactly once, and the lineage checksum describes
    # the bytes on disk — the same execution validate_stage will
    # re-checksum (computing stats and data in two separate actions
    # costs 2× compute, and any upstream non-determinism could desync
    # checksum from data).  The overwrite mode is a writer option, not a
    # session conf, so other partitioned writes in the session keep
    # their static overwrite.
    (
        todo.write.partitionBy("part")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(data_dir)
    )
    # Stats over EXACTLY the buckets this commit computed — a positive
    # filter on (valid − done), not merely "everything not committed",
    # so nothing outside this run's write set can earn a lineage row.
    # Partition pruning keeps the scan to the recomputed buckets.  Both
    # read-backs pass the schema: a commit with no rows leaves no
    # parquet file to infer it from.
    written = spark.read.schema(bucketed.schema).parquet(data_dir).filter(
        F.col("part").isin(sorted(valid - done))
    )
    stats = (
        written.groupBy("part")
        .agg(
            F.count("*").alias("output_rows"),
            F.coalesce(
                F.bit_xor(F.xxhash64(*[c for c in df.columns])), F.lit(0)
            ).alias("checksum"),
        )
        .collect()
    )

    os.makedirs(_lineage_dir(root, stage), exist_ok=True)
    for r in stats:
        rec = {
            "stage": stage,
            "part": int(r["part"]),
            "n_buckets": n_buckets,
            "output_rows": int(r["output_rows"]),
            "checksum": int(r["checksum"]),
            "committed_at": time.time(),
            "files": _bucket_files(data_dir, int(r["part"])),
        }
        _write_json(_row_path(root, stage, rec["part"]), rec)
        kept.append(rec)

    # Snapshot manifest LAST — it must only ever describe a fully
    # committed table state (S2's snapshot-pinned read contract).
    record_snapshot(root, stage, n_buckets, kept, bucketed.schema.json())

    return spark.read.schema(bucketed.schema).parquet(data_dir).drop("part")


def validate_stage(spark: SparkSession, root: str, stage: str) -> bool:
    """Compare the stage's parquet files with the rows' filesets (a
    stray, missing, truncated or rewritten file fails unread), then
    re-checksum the data against the rows in one groupBy("part") pass
    (detects torn writes: data without a row, a row without data, and a
    rows or checksum mismatch all fail)."""
    rows = lineage_rows(root, stage)
    data_dir = os.path.join(root, stage)
    if not os.path.isdir(data_dir):
        return not rows
    parts = [e[len("part="):] for e in os.listdir(data_dir) if e.startswith("part=")]
    on_disk = {f: v for p in parts for f, v in _bucket_files(data_dir, p).items()}
    if on_disk != {f: v for r in rows for f, v in r["files"].items()}:
        return False
    if not rows:  # an empty commit: no parquet file to read
        return True
    data = spark.read.parquet(data_dir)
    cols = [c for c in data.columns if c != "part"]
    actual = (
        data.groupBy("part")
        .agg(
            F.count("*").alias("rows"),
            F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("cs"),
        )
        .collect()
    )
    return {r["part"]: (r["rows"], r["cs"]) for r in actual} == {
        r["part"]: (r["output_rows"], r["checksum"]) for r in rows
    }


def resume_contract_violations(spark: SparkSession) -> int:
    """Run the commit → corrupt → revalidate → resume scenario in a
    scratch dir and count failed expectations (0 = the resume/lineage
    protocol behaves) — the externally-scored probe behind the
    ``kg_contracts`` catalog query's ``lineage_resume`` row:

    1. a fresh commit validates clean;
    2. deleting one bucket's lineage row makes validation FAIL (data
       without lineage = torn write detected);
    3. a resumed commit recomputes exactly the missing bucket and
       validates clean again;
    4. the resumed table is bit-identical (count + row checksum) to
       the original commit.
    """
    tmp = tempfile.mkdtemp(prefix="ner_spark_lincheck_")
    try:
        df = _contract_frame(spark)

        def checksum(d: DataFrame) -> tuple[int, int]:
            r = d.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.bit_xor(F.xxhash64("conv_id", "turn_idx", "val")),
                    F.lit(0),
                ).alias("cs"),
            ).collect()[0]
            return int(r["n"]), int(r["cs"])

        first = checksum(commit_stage(df, tmp, "s1", n_buckets=8))
        ok_clean = validate_stage(spark, tmp, "s1")
        ldir = _lineage_dir(tmp, "s1")
        victims = sorted(f for f in os.listdir(ldir) if f.endswith(".json"))
        os.remove(os.path.join(ldir, victims[0]))
        ok_detects = not validate_stage(spark, tmp, "s1")
        n_left = len(committed_buckets(tmp, "s1", n_buckets=8))
        second = checksum(commit_stage(df, tmp, "s1", n_buckets=8))
        ok_revalid = validate_stage(spark, tmp, "s1")
        ok_same = second == first
        ok_partial = n_left == len(victims) - 1
        return sum(
            0 if ok else 1
            for ok in (ok_clean, ok_detects, ok_revalid, ok_same, ok_partial)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _contract_frame(spark: SparkSession) -> DataFrame:
    """The 200-row, 40-conversation frame both contract probes commit."""
    return spark.range(200).select(
        F.concat(F.lit("c"), (F.col("id") % 40).cast("string")).alias(
            "conv_id"
        ),
        (F.col("id") / 40).cast("int").alias("turn_idx"),
        F.col("id").alias("val"),
    )


# -- snapshot log --------------------------------------------------------


def _manifest_path(root: str, stage: str, snap_id: int) -> str:
    return os.path.join(_snap_dir(root, stage), f"snap-{snap_id:08d}.json")


def _load(root: str, stage: str, snap_id: int) -> dict | None:
    path = _manifest_path(root, stage, snap_id)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def _manifest_names(root: str, stage: str) -> list[str]:
    d = _snap_dir(root, stage)
    if not os.path.isdir(d):
        return []
    return sorted(
        fn
        for fn in os.listdir(d)
        if fn.startswith("snap-") and fn.endswith(".json")
    )


def has_snapshot_log(root: str, stage: str) -> bool:
    """True iff at least one manifest exists — a bare `_snapshots/…`
    INTERMEDIATE directory (created for a nested child stage like
    `stream_tagged/batch=3`) is NOT a log for its parent path."""
    return bool(_manifest_names(root, stage))


def _latest(root: str, stage: str) -> dict | None:
    """The newest manifest — reads ONE file (ids are zero-padded, so
    the lexically-greatest name is the newest), not the whole history."""
    names = _manifest_names(root, stage)
    if not names:
        return None
    with open(os.path.join(_snap_dir(root, stage), names[-1])) as f:
        return json.load(f)


def snapshots(root: str, stage: str) -> list[dict]:
    """All snapshot manifests for a stage, oldest first (history
    listing — commits and reads use _latest/_load, one file each)."""
    recs = []
    for fn in _manifest_names(root, stage):
        with open(os.path.join(_snap_dir(root, stage), fn)) as f:
            recs.append(json.load(f))
    return sorted(recs, key=lambda r: r["snapshot_id"])


def record_snapshot(
    root: str,
    stage: str,
    n_buckets: int,
    rows: list[dict],
    schema_json: str,
) -> int:
    """Append a manifest naming the fileset of ``rows`` — every lineage
    row committed under ``n_buckets`` — and return the snapshot id (the
    PARENT's id when the fileset did not change: a no-op commit creates
    no snapshot, like Iceberg).  Called at the end of commit_stage,
    after the lineage rows.  Residual race (documented): a stray file
    landing inside a bucket BETWEEN the data write and its row's scan
    is indistinguishable from written data — closing it needs
    writer-reported file lists, which is what the real Iceberg commit
    path provides."""
    files = {rel: fs for r in rows for rel, fs in r["files"].items()}
    parent = _latest(root, stage)
    if (
        parent is not None
        and parent["n_buckets"] == n_buckets
        and parent["files"] == files
    ):
        return parent["snapshot_id"]
    snap_id = parent["snapshot_id"] + 1 if parent else 1
    os.makedirs(_snap_dir(root, stage), exist_ok=True)
    _write_json(
        _manifest_path(root, stage, snap_id),
        {
            "snapshot_id": snap_id,
            "parent_id": parent["snapshot_id"] if parent else None,
            "stage": stage,
            "n_buckets": n_buckets,
            "files": files,
            "schema": schema_json,
            "committed_at": time.time(),
        },
    )
    return snap_id


def read_snapshot(
    spark: SparkSession,
    root: str,
    stage: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read a stage AS OF a snapshot (latest when ``snapshot_id`` is
    None): exactly the manifest's files — concurrent writers' new or
    torn files are invisible.  Raises SnapshotExpiredError when any
    pinned file no longer exists, changed size, OR carries a different
    mtime_ns integrity token than the manifest recorded (an in-place
    rewrite with identical name and size still refreshes the mtime,
    so same-size tampering is detected too).  Raises ValueError for an
    unknown id or an empty log."""
    if snapshot_id is None:
        rec = _latest(root, stage)
        if rec is None:
            raise ValueError(f"no snapshots recorded for stage {stage!r}")
    else:
        rec = _load(root, stage, snapshot_id)
        if rec is None:
            have = [
                int(n[len("snap-") : -len(".json")])
                for n in _manifest_names(root, stage)
            ]
            raise ValueError(
                f"unknown snapshot {snapshot_id} for stage {stage!r} "
                f"(have {have})"
            )
    # absolute: the manifest was located with Python-side os.path
    # checks (Python cwd), but Spark resolves relative read paths
    # against the driver JVM's own cwd — which can differ
    data_dir = os.path.abspath(os.path.join(root, stage))
    stale = []
    for rel, (size, tok) in rec["files"].items():
        # single stat per file, tolerant of a concurrent overwrite
        # unlinking between check and use — either way it's expiry,
        # never an unhandled FileNotFoundError
        try:
            st = os.stat(os.path.join(data_dir, rel))
            if st.st_size != size or st.st_mtime_ns != tok:
                stale.append(rel)
        except OSError:
            stale.append(rel)
    if stale:
        raise SnapshotExpiredError(
            f"snapshot {rec['snapshot_id']} of stage {stage!r} expired: "
            f"{len(stale)} of {len(rec['files'])} files were overwritten, "
            f"resized, or rewritten in place (parquet fallback "
            f"overwrites; Iceberg would retain them until "
            f"expire_snapshots)"
        )
    paths = [os.path.join(data_dir, rel) for rel in sorted(rec["files"])]
    if not paths:
        # an empty commit: no files to pin — reconstruct the schema the
        # manifest recorded at commit time (includes the `part` column,
        # matching what a non-empty basePath read surfaces)
        return spark.createDataFrame(
            [], T.StructType.fromJson(json.loads(rec["schema"]))
        )
    # basePath keeps the hive `part=` column, exactly like the plain
    # directory read the un-pinned fallback does — so resume-side
    # partition pruning on `part` still applies to pinned reads.
    return spark.read.option("basePath", data_dir).parquet(*paths)


def snapshot_contract_violations(spark: SparkSession) -> int:
    """Run the snapshot-pinning scenario in a scratch dir and count
    failed expectations (0 = the S2 fallback semantics hold) — the
    probe behind the ``kg_contracts`` catalog query's
    ``snapshot_pinning`` row:

    1. a partial commit yields snapshot 1; its pinned read returns
       exactly the partial rows;
    2. a stray parquet file planted in a committed bucket inflates a
       plain directory read but is INVISIBLE to the snapshot read;
    3. a resumed commit (filling the missing buckets) yields snapshot
       2 — which must NOT contain the stray file (manifests come from
       lineage rows, not directory rescans) — while snapshot 1 still
       reads its original partial rows (time travel);
    4. a full overwrite expires snapshots 1 and 2
       (SnapshotExpiredError), and the new latest reads the full
       table.
    """
    tmp = tempfile.mkdtemp(prefix="ner_spark_snapcheck_")
    try:
        df = _contract_frame(spark)
        part = (
            with_bucket(df, 8)
            .filter(F.col("part") < 4)
            .drop("part")
        )
        n_part, n_full = part.count(), df.count()

        commit_stage(part, tmp, "s1", n_buckets=8)
        ok_pin1 = read_snapshot(spark, tmp, "s1", 1).count() == n_part

        data_dir = os.path.join(tmp, "s1")
        pdir = next(
            os.path.join(data_dir, d)
            for d in sorted(os.listdir(data_dir))
            if d.startswith("part=")
        )
        src = next(
            f for f in sorted(os.listdir(pdir)) if f.endswith(".parquet")
        )
        shutil.copy(
            os.path.join(pdir, src), os.path.join(pdir, "stray-" + src)
        )
        ok_atomic = (
            spark.read.parquet(data_dir).count() > n_part
            and read_snapshot(spark, tmp, "s1").count() == n_part
        )

        commit_stage(df, tmp, "s1", n_buckets=8)
        ok_no_launder = read_snapshot(spark, tmp, "s1").count() == n_full
        ok_travel = read_snapshot(spark, tmp, "s1", 1).count() == n_part

        commit_stage(df, tmp, "s1", n_buckets=8, resume=False)
        ok_latest = read_snapshot(spark, tmp, "s1").count() == n_full
        try:
            read_snapshot(spark, tmp, "s1", 2)
            ok_expire = False
        except SnapshotExpiredError:
            ok_expire = True
        return sum(
            0 if ok else 1
            for ok in (
                ok_pin1,
                ok_atomic,
                ok_no_launder,
                ok_travel,
                ok_latest,
                ok_expire,
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
