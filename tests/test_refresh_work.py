"""The refresh pays for each batch once: one envelope parse per row, and
one latest-per-key window and one stats aggregate per entity merge."""

from __future__ import annotations

import datetime as dt
import os
import re

from pyspark.sql import DataFrame

from example_cdk_dynamodb_stream_to_redshift_spark.operators.merge import (
    ALL_SPECS,
    MEMBER_SPEC,
)
from example_cdk_dynamodb_stream_to_redshift_spark.operators.partitioned_store import (
    PartitionedParquetTable,
)
from example_cdk_dynamodb_stream_to_redshift_spark.operators.storage import ParquetTable
from example_cdk_dynamodb_stream_to_redshift_spark.plans.extract import build_extract
from example_cdk_dynamodb_stream_to_redshift_spark.schemas import MEMBER_SCHEMA
from example_cdk_dynamodb_stream_to_redshift_spark.sources.cdc_envelope import (
    read_cdc_records,
)
from example_cdk_dynamodb_stream_to_redshift_spark.streaming import CdcPipeline

from .cdc_fixtures import (
    envelope,
    kinesis_record,
    member_item,
    member_quest_item,
    quest_item,
    write_jsonl,
)

BASE_MS = 1700000000000
OLD = dt.datetime(2023, 1, 1)
SYNC = dt.datetime(2023, 11, 20, 12, 0, 0)


def _member_record(seq: int, uuid: str, event: str = "INSERT") -> dict:
    img = None if event == "REMOVE" else {"pk": {"S": f"M_{uuid}"}, "sk": {"S": uuid}}
    return kinesis_record(
        seq, envelope(f"e{seq}", event, f"M_{uuid}", uuid, BASE_MS + seq, img)
    )


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _node_names(plan) -> list[str]:
    """Class names of a logical plan's nodes, children only: a cached
    relation's own plan (an inner child) is not walked."""
    kids = plan.children()
    return [plan.getClass().getSimpleName()] + [
        name for i in range(kids.size()) for name in _node_names(kids.apply(i))
    ]


def test_extract_parses_each_payload_once(spark, tmp_path):
    path = write_jsonl(
        str(tmp_path / "b.json"), [_member_record(i, f"m{i}") for i in range(3)]
    )
    plan = _plan(build_extract(read_cdc_records(spark, path), raw_col="_raw"))
    # the schema each from_json parses against; one distinct schema means
    # one parse per row (subexpression elimination shares it). Catalyst's
    # per-field pruning would leave 7 single-field parses here.
    schemas = set(
        re.findall(r"from_json\((.*?), (?:\([^()]*\), )?static_invoke\(", plan)
    )
    assert len(schemas) == 1, sorted(s[:40] for s in schemas)
    assert "StructField(dynamodb" in next(iter(schemas))


def test_full_rewrite_refresh_reads_staged_from_cache(spark, tmp_path, monkeypatch):
    """The full-rewrite write reads each entity's deduplicated batch from
    the persisted staged frame, so the latest-per-key window is planned
    inside the cached relation only — not again for the broadcast keys
    and the inserts."""
    export = tmp_path / "export"
    write_jsonl(
        str(export / "part0.json"),
        [
            member_item("m1", "Alice"),
            quest_item("q1", "Walk"),
            member_quest_item("mq1", "m1", "q1", "10.00"),
        ],
    )
    stream = tmp_path / "stream"
    write_jsonl(
        str(stream / "b1.json"),
        [_member_record(1, "m2"), _member_record(2, "m2", "MODIFY")],
    )
    pipe = CdcPipeline(spark, str(stream), str(tmp_path / "wh"))
    pipe.initial_load(str(export), sync_ts=OLD)

    plans: dict[str, list[str]] = {}
    overwrite = ParquetTable.overwrite

    def recording_overwrite(table, df, *args, **kwargs):
        plan = df._jdf.queryExecution().optimizedPlan()
        plans[os.path.basename(table.root)] = _node_names(plan)
        overwrite(table, df, *args, **kwargs)

    monkeypatch.setattr(ParquetTable, "overwrite", recording_overwrite)
    pipe.refresh()

    nodes = plans["member"]
    # both branches that consume the staged batch (broadcast keys, inserts)
    # read the cached relation, and no Window runs outside it
    assert "Window" not in nodes, nodes
    assert nodes.count("InMemoryRelation") == 2, nodes
    assert list(plans) == ["member"]  # nothing staged for the others: no write
    assert {r["memberId"] for r in pipe.table("member").collect()} == {"m1", "m2"}
    log = {r["entity"]: r for r in pipe.sync_log_table().collect()}
    assert (log["member"]["staged_count"], log["member"]["deleted_count"],
            log["member"]["inserted_count"]) == (1, 0, 1)
    assert all(log[s.name]["staged_count"] == 0 for s in ALL_SPECS[1:])


def test_bucketed_merge_takes_counts_buckets_and_null_guard_from_one_aggregate(
    spark, tmp_path, monkeypatch
):
    seed = spark.createDataFrame(
        [(f"m{i}", f"n{i}", OLD, "INITIAL_LOAD", OLD) for i in range(20)],
        MEMBER_SCHEMA,
    )
    table = PartitionedParquetTable(
        spark, str(tmp_path / "member"), MEMBER_SCHEMA, "memberId", 8
    )
    table.overwrite_full(seed)
    path = write_jsonl(
        str(tmp_path / "b.json"),
        [
            _member_record(1, "m3", "MODIFY"),
            _member_record(2, "m7", "REMOVE"),
            _member_record(3, "m99"),
        ],
    )
    extract = build_extract(read_cdc_records(spark, path))

    actions = []
    collect = type(extract).collect

    def counting_collect(df):
        actions.append(df)
        return collect(df)

    monkeypatch.setattr(type(extract), "collect", counting_collect)
    stats: dict = {}
    touched = table.merge(extract, MEMBER_SPEC, SYNC, stats=stats, watermark=OLD)
    monkeypatch.undo()

    # the carried watermark skips the MAX(ts) read: the one collecting action
    # before the write is the staged aggregate
    assert len(actions) == 1
    assert (stats["staged_count"], stats["deleted_count"], stats["inserted_count"]) == (
        3,
        2,
        2,
    )
    assert touched and touched == sorted(set(touched))
    names = {r["memberId"] for r in table.read().collect()}
    assert "m7" not in names and {"m3", "m99"} <= names and len(names) == 20
