"""Partition-scoped merge == full-rewrite merge, and untouched bucket
partitions are physically left alone (their files never rewritten)."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest

from example_cdk_dynamodb_stream_to_redshift_spark.operators.merge import (
    MEMBER_SPEC,
    incremental_merge,
)
from example_cdk_dynamodb_stream_to_redshift_spark.operators.partitioned_store import (
    PartitionedParquetTable,
)
from example_cdk_dynamodb_stream_to_redshift_spark.plans.extract import build_extract
from example_cdk_dynamodb_stream_to_redshift_spark.schemas import MEMBER_SCHEMA
from example_cdk_dynamodb_stream_to_redshift_spark.sources.cdc_envelope import (
    read_cdc_records,
)

from .cdc_fixtures import envelope, kinesis_record, write_jsonl

BASE_MS = 1700000000000
OLD = dt.datetime(2023, 1, 1)
SYNC = dt.datetime(2023, 11, 20, 12, 0, 0)
N_BUCKETS = 8


def member_env(seq, eid, name_ev, uuid, name, ms):
    img = None
    if name_ev != "REMOVE":
        img = {
            "pk": {"S": f"M_{uuid}"},
            "sk": {"S": name},
            "memberId": {"S": uuid},
            "memberName": {"S": name},
        }
    return kinesis_record(seq, envelope(eid, name_ev, f"M_{uuid}", name, ms, img))


def _seed_rows():
    # 40 members spread across buckets, initial-loaded at OLD
    return [(f"m{i}", f"name{i}", OLD, "INITIAL_LOAD", OLD) for i in range(40)]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def extract(spark, tmp_path):
    records = [
        member_env(1, "e1", "MODIFY", "m3", "renamed3", BASE_MS),
        member_env(2, "e2", "REMOVE", "m7", "name7", BASE_MS + 1000),
        member_env(3, "e3", "INSERT", "m99", "brandnew", BASE_MS + 2000),
    ]
    path = write_jsonl(str(tmp_path / "batch.json"), records)
    return build_extract(read_cdc_records(spark, path))


def test_scoped_merge_equals_full_merge(spark, tmp_path, extract):
    seed = spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA)

    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(seed)
    touched = table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)

    full = incremental_merge(seed, extract, MEMBER_SPEC, sync_ts=SYNC)
    assert _sorted(table.read()) == _sorted(full)
    assert 0 < len(touched) < N_BUCKETS  # scoped: a strict subset of buckets
    # semantics spot-checks: REMOVE gone, MODIFY renamed, INSERT present
    names = {r["memberId"]: r["memberName"] for r in table.read().collect()}
    assert "m7" not in names and names["m3"] == "renamed3" and names["m99"] == "brandnew"


def test_untouched_buckets_not_rewritten(spark, tmp_path, extract):
    seed = spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA)
    root = str(tmp_path / "member")
    table = PartitionedParquetTable(spark, root, MEMBER_SCHEMA, "memberId", N_BUCKETS)
    table.overwrite_full(seed)

    def files():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(root, "_kb=*", "*.parquet"))
        }

    before = files()
    touched = table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)
    after = files()

    touched_dirs = {f"_kb={b}" for b in touched}
    for path, mtime in before.items():
        bucket_dir = os.path.basename(os.path.dirname(path))
        if bucket_dir not in touched_dirs:
            assert path in after and after[path] == mtime, f"{path} was rewritten"
    # and the touched buckets WERE rewritten
    assert any(p not in before or after[p] != before[p] for p in after)


def test_partitioned_pipeline_e2e_matches_default(spark, tmp_path):
    from example_cdk_dynamodb_stream_to_redshift_spark.streaming import CdcPipeline

    from .cdc_fixtures import member_item, member_quest_item, quest_item

    export_dir = tmp_path / "export"
    write_jsonl(
        str(export_dir / "part0.json"),
        [
            member_item("m1", "Alice"),
            member_item("m2", "Bob"),
            quest_item("q1", "Walk"),
            member_quest_item("mq1", "m1", "q1", "10.00"),
        ],
    )
    batch = [
        member_env(1, "e1", "INSERT", "m3", "Carol", BASE_MS + 1000),
        member_env(2, "e2", "MODIFY", "m3", "Caroline", BASE_MS + 2000),
        member_env(3, "e3", "REMOVE", "m2", "Bob", BASE_MS + 3000),
    ]

    tables = {}
    for label, partitioned in (("plain", False), ("bucketed", True)):
        stream_dir = tmp_path / f"stream_{label}"
        stream_dir.mkdir()
        write_jsonl(str(stream_dir / "b1.json"), batch)
        pipe = CdcPipeline(
            spark,
            str(stream_dir),
            str(tmp_path / f"wh_{label}"),
            partitioned=partitioned,
            n_buckets=N_BUCKETS,
        )
        pipe.initial_load(str(export_dir), sync_ts=OLD)
        pipe.refresh()
        tables[label] = {
            # syncTimestamp is wall-clock-stamped per refresh -> excluded
            name: _sorted(pipe.table(name).drop("syncTimestamp"))
            for name in ("member", "quest", "member_quest")
        }
    assert tables["plain"] == tables["bucketed"]


def test_pruned_read_uses_partition_filters(spark, tmp_path):
    from pyspark.sql import functions as F

    from example_cdk_dynamodb_stream_to_redshift_spark.operators.partitioned_store import (
        BUCKET_COL,
    )

    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA))
    pruned = table._read_raw().filter(F.col(BUCKET_COL).isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # directory pruning, not a post-scan filter on a recomputed hash
    assert "PartitionFilters" in plan and BUCKET_COL in plan.split("PartitionFilters")[1][:120]


def test_scoped_merge_guard_and_watermark(spark, tmp_path, extract):
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    with pytest.raises(ValueError, match="initial load"):
        table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)

    # late event (ts <= watermark) must be dropped by the GLOBAL watermark
    # even when its bucket holds older rows (the pruned-slice max is lower)
    newer = dt.datetime(2023, 11, 16)  # after BASE_MS events
    rows = [("m3", "name3", OLD, "INITIAL_LOAD", OLD),
            ("w1", "wm", newer, "MODIFY", newer)]
    table.overwrite_full(spark.createDataFrame(rows, MEMBER_SCHEMA))
    touched = table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)
    assert touched == []  # all events predate the global watermark
    assert {r["memberName"] for r in table.read().collect()} == {"name3", "wm"}


def test_merge_stats_exact_when_extract_is_from_another_session(
    spark, tmp_path, extract
):
    """Inside foreachBatch the micro-batch belongs to a different session
    than the target table. The sync-log counts and the carried watermark
    must still be exact values, not a timeout fallback: an Observation on
    the batch side never fires on the target-side write action."""
    other = spark.newSession()
    ext = build_extract(read_cdc_records(other, str(tmp_path / "batch.json")))
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA))
    stats: dict = {}
    table.merge(ext, MEMBER_SPEC, sync_ts=SYNC, stats=stats)
    assert stats["staged_count"] == 3  # m3 MODIFY, m7 REMOVE, m99 INSERT
    assert stats["deleted_count"] == 2  # m3 and m7 are in the seed
    assert stats["inserted_count"] == 2  # the REMOVE is not re-inserted
    assert stats["watermark"] == OLD
    # latest non-REMOVE event: (BASE_MS + 2000) // 1000 in UTC
    assert stats["next_watermark"] == dt.datetime(2023, 11, 14, 22, 13, 22)


def test_parquet_table_keeps_one_prior_version_for_lazy_readers(spark, tmp_path):
    # a DataFrame handed out before a refresh must stay executable for one
    # commit (lazy plans resolve files at action time, not at read() time)
    from example_cdk_dynamodb_stream_to_redshift_spark.operators.storage import (
        ParquetTable,
    )

    table = ParquetTable(spark, str(tmp_path / "t"), MEMBER_SCHEMA)
    table.overwrite(spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA))
    snapshot = table.read()  # lazy handle against v1
    table.overwrite(table.read().limit(1))  # commit v2
    assert snapshot.count() == len(_seed_rows())  # v1 still on disk
    table.overwrite(table.read())  # commit v3 -> v1 GC'd
    import os
    versions = {d for d in os.listdir(str(tmp_path / "t")) if d.startswith("v")}
    assert versions == {"v2", "v3"}


def test_torn_commit_rolls_forward(spark, tmp_path, extract):
    """A crash between a bucket's rmtree(dst) and its move must NOT lose
    that bucket's non-staged rows: the commit manifest + idempotent move
    loop roll the commit forward on the next merge (ADVICE r6)."""
    import json
    import shutil

    seed = spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA)
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(seed)
    expected = _sorted(
        incremental_merge(seed, extract, MEMBER_SPEC, sync_ts=SYNC)
    )

    # run the real merge once to capture a fully-materialized staging set,
    # intercepting _commit_moves so the commit never happens (the "crash"
    # lands after the manifest write, before any move)
    orig_moves = PartitionedParquetTable._commit_moves
    try:
        PartitionedParquetTable._commit_moves = lambda self, t, s: (_ for _ in ()).throw(
            RuntimeError("simulated crash before any move")
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)
    finally:
        PartitionedParquetTable._commit_moves = orig_moves

    # the tear: manifest + staging survive; now ALSO delete one touched
    # bucket's live directory (the worst case: rmtree(dst) happened, the
    # move did not). Old behavior discarded _staging here → rows lost.
    manifest_path = table._commit_manifest()
    assert os.path.exists(manifest_path) and os.path.isdir(table._staging_dir())
    pending = json.load(open(manifest_path))
    victim = pending["staged"][0]
    shutil.rmtree(os.path.join(table.root, f"_kb={victim}"))

    # next merge (empty batch) rolls the commit forward before reading
    empty = extract.limit(0)
    table.merge(empty, MEMBER_SPEC, sync_ts=SYNC)
    assert not os.path.exists(manifest_path)
    assert not os.path.isdir(table._staging_dir())
    assert _sorted(table.read()) == expected


def test_torn_manifest_is_treated_as_pre_commit(spark, tmp_path, extract):
    """The manifest itself is written tmp+os.replace, so a torn manifest
    should be impossible — but if one ever appears (non-atomic
    filesystem, manual copy), _roll_forward must treat it as PRE-commit
    (discard staging + manifest) instead of raising JSONDecodeError and
    permanently blocking every subsequent merge (ADVICE r7)."""
    seed = spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA)
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(seed)
    before = _sorted(table.read())

    # a torn (truncated) manifest + a staging dir, as a mid-write crash on
    # a non-atomic filesystem would leave them
    os.makedirs(table._staging_dir(), exist_ok=True)
    with open(table._commit_manifest(), "w") as fh:
        fh.write('{"touched": [1, 2], "sta')  # torn mid-write

    # pre-commit semantics: no live directory was touched before the
    # manifest became readable, so the table must read as before and the
    # next merge must run, not raise
    expected = _sorted(
        incremental_merge(seed, extract, MEMBER_SPEC, sync_ts=SYNC)
    )
    table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)
    assert not os.path.exists(table._commit_manifest())
    assert not os.path.isdir(table._staging_dir())
    assert _sorted(table.read()) == expected
    assert before != expected  # the merge really changed rows


def test_unreadable_manifest_fails_stop(spark, tmp_path, extract):
    """An OSError reading the manifest is NOT evidence of a pre-commit
    tear: the manifest may be COMPLETE (crash window between os.replace
    and os.remove, _commit_moves possibly part-run), and discarding
    staging there would permanently lose the touched buckets' non-staged
    rows — the exact loss the protocol exists to prevent. Only
    JSONDecodeError (torn content, provably pre-commit under atomic
    rename) takes the discard branch; I/O errors must propagate so a
    retry can still roll forward (ADVICE r8)."""
    seed = spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA)
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(seed)

    # a manifest that EXISTS but cannot be read as a file (IsADirectoryError
    # is an OSError; chmod tricks don't work under root) — stands in for
    # any transient I/O failure on a complete manifest
    staging = table._staging_dir()
    os.makedirs(staging, exist_ok=True)
    os.makedirs(table._commit_manifest())

    with pytest.raises(OSError):
        table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)
    # fail-stop preserved the recovery state: both survive for a retry
    assert os.path.exists(table._commit_manifest())
    assert os.path.isdir(staging)
    os.rmdir(table._commit_manifest())
    shutil.rmtree(staging)


def test_leftover_manifest_tmp_is_cleared(spark, tmp_path, extract):
    """A crash DURING the manifest tmp write leaves only the .tmp file
    (os.replace never ran => pre-commit); the next merge must remove it
    and proceed."""
    seed = spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA)
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(seed)
    tmp = table._commit_manifest() + ".tmp"
    with open(tmp, "w") as fh:
        fh.write('{"touched":')  # half-written, never replaced

    expected = _sorted(
        incremental_merge(seed, extract, MEMBER_SPEC, sync_ts=SYNC)
    )
    table.merge(extract, MEMBER_SPEC, sync_ts=SYNC)
    assert not os.path.exists(tmp)
    assert not os.path.exists(table._commit_manifest())
    assert _sorted(table.read()) == expected


def test_null_merge_key_fails_before_commit(spark, tmp_path):
    """A NULL merge key hashes to the seed bucket (xxhash64(NULL)=42) and
    would silently merge every null-key row under one phantom key; the
    merge must fail cleanly at stage time, BEFORE touching any live
    directory (ADVICE r6). Null keys arise with image-derived key specs
    (cf. MEMBER_QUEST_SPEC: 'NewImage is absent for REMOVE -> nulls'), so
    the test spec reads its key from the image."""
    from example_cdk_dynamodb_stream_to_redshift_spark.functions.dynamo import (
        av_string,
    )
    from example_cdk_dynamodb_stream_to_redshift_spark.operators.merge import (
        MergeSpec,
    )
    from pyspark.sql import functions as F

    from example_cdk_dynamodb_stream_to_redshift_spark.functions.dynamo import (
        epoch_ms_to_timestamp,
    )

    def _proj_imgkey(df):
        return df.select(
            av_string("eventData.NewImage.memberId").alias("memberId"),
            F.col("sk").alias("memberName"),
            epoch_ms_to_timestamp(
                F.col("eventData.ApproximateCreationDateTime")
            ).alias("approximateUpdateTimestamp"),
            F.col("eventName"),
            F.col("sequencenumber"),
        )

    imgkey_spec = MergeSpec("member", "memberId", "M_", _proj_imgkey)
    records = [
        kinesis_record(
            1,
            envelope(
                "e1",
                "INSERT",
                "M_mnull",
                "x",
                BASE_MS,
                {"pk": {"S": "M_mnull"}, "sk": {"S": "x"}},  # no memberId attr
            ),
        )
    ]
    path = write_jsonl(str(tmp_path / "nullkey.json"), records)
    ext = build_extract(read_cdc_records(spark, path))

    seed = spark.createDataFrame(_seed_rows(), MEMBER_SCHEMA)
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", N_BUCKETS
    )
    table.overwrite_full(seed)
    before = _sorted(table.read())
    # both paths must reject: the fused stats agg and plain _touched_buckets
    for stats in ({}, None):
        with pytest.raises(ValueError, match="must be non-null"):
            table.merge(ext, imgkey_spec, sync_ts=SYNC, stats=stats)
    # nothing torn: table unchanged, staging cleaned up
    assert _sorted(table.read()) == before
    assert not os.path.isdir(table._staging_dir())
