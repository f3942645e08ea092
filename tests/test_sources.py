"""Round-trip test against a synthetic copy of the reference's on-disk
layout: {data_dir}/{libraries,documents,chunks}/{uuid}.json written
exactly as json.dump(model_dump(), default=str) would
(/root/reference/src/models/collection.py:71-75)."""

from __future__ import annotations

import json
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from local_vectordb_spark import sources

TS = datetime(2025, 10, 31, 12, 34, 56, 789012)


def _write(path, obj):
    path.write_text(json.dumps(obj, default=str))


@pytest.fixture(scope="module")
def ref_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("refdata")
    for kind in ("libraries", "documents", "chunks"):
        (root / kind).mkdir()
    lib_id, doc_id = str(uuid.uuid4()), str(uuid.uuid4())
    base = {"created_at": str(TS), "updated_at": str(TS)}
    _write(
        root / "libraries" / f"{lib_id}.json",
        {"id": lib_id, "name": "lib0", "metadata": {"owner": "t", "rank": 3}, **base},
    )
    _write(
        root / "documents" / f"{doc_id}.json",
        {"id": doc_id, "name": "doc0", "library_id": lib_id, "metadata": {}, **base},
    )
    for i in range(3):
        cid = str(uuid.uuid4())
        _write(
            root / "chunks" / f"{cid}.json",
            {
                "id": cid,
                "content": f"chunk {i}",
                "embedding": [0.1 * i, 0.2, 0.3],
                "document_id": doc_id,
                "metadata": {"n": i},
                **base,
            },
        )
    # one corrupt file, which the reference silently skips
    (root / "chunks" / "broken.json").write_text("{not json")
    return root


def test_read_libraries_types(spark, ref_dir):
    df = sources.read_collection(spark, str(ref_dir), "libraries")
    row = df.collect()[0]
    assert row.name == "lib0"
    # int metadata value arrives as its string form (default=str parity)
    assert row.metadata == {"owner": "t", "rank": "3"}
    assert row.created_at == TS


def test_read_chunks_drops_corrupt(spark, ref_dir):
    df = sources.read_collection(spark, str(ref_dir), "chunks")
    assert df.count() == 3
    kept = sources.read_collection(spark, str(ref_dir), "chunks", keep_corrupt=True)
    assert kept.filter("_corrupt_record IS NOT NULL").count() == 1


def test_chunk_embedding_is_float_array(spark, ref_dir):
    df = sources.read_collection(spark, str(ref_dir), "chunks")
    assert dict(df.dtypes)["embedding"] == "array<float>"
    vec = df.filter("content = 'chunk 1'").collect()[0].embedding
    assert vec == pytest.approx([0.1, 0.2, 0.3])


def test_snapshot_to_parquet(spark, ref_dir, tmp_path):
    counts = sources.snapshot_to_parquet(spark, str(ref_dir), str(tmp_path / "pq"))
    assert counts == {"libraries": 1, "documents": 1, "chunks": 3}
    chunks = spark.read.parquet(str(tmp_path / "pq" / "chunks.parquet"))
    assert chunks.count() == 3


def test_unknown_kind_raises(spark, ref_dir):
    with pytest.raises(ValueError):
        sources.read_collection(spark, str(ref_dir), "nope")


# ---------------------------------------------------------------- layout


def _events_df(spark):
    from local_vectordb_spark.session import load_table

    return load_table(spark, "/root/testdata/sf0.001", "events")


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    from local_vectordb_spark.sources import partitioned as P

    path = str(tmp_path / "events_by_type")
    ev = _events_df(spark)
    P.write_partitioned(ev, path, ["event_type"])

    back = P.read_partitioned(spark, path)
    assert back.count() == ev.count()
    assert set(back.columns) == set(ev.columns)

    # a partition-column filter must prune directories at planning time
    clicks = back.filter(F.col("event_type") == "click")
    plan = clicks._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # (inputFiles() lists the whole relation pre-pruning, so file-level
    # verification goes through the plan's PartitionFilters above)
    assert clicks.count() == ev.filter(F.col("event_type") == "click").count()


def test_partition_file_counts(spark, tmp_path):
    from local_vectordb_spark.sources import partitioned as P

    path = str(tmp_path / "ev")
    P.write_partitioned(_events_df(spark).repartition(4), path, ["event_type"])
    counts = P.partition_file_counts(spark, path)
    assert set(counts) == {
        f"event_type={r.event_type}"
        for r in _events_df(spark).select("event_type").distinct().collect()
    }
    assert all(v >= 1 for v in counts.values())


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    from local_vectordb_spark.sources import partitioned as P

    src = str(tmp_path / "frag")
    out = str(tmp_path / "compacted")
    ev = _events_df(spark)
    # fragmented layout: many small files per partition, as an
    # append-per-batch sink leaves it (write_partitioned itself writes
    # one file per partition)
    ev.repartition(16).write.partitionBy("event_type").parquet(src)
    n_before = len(P.read_partitioned(spark, src).inputFiles())

    P.compact(spark, src, out, ["event_type"], target_file_bytes=256 * 1024 * 1024)
    compacted = P.read_partitioned(spark, out)
    n_after = len(compacted.inputFiles())
    assert n_after < n_before
    # identical content, orderless
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, compacted.select(*ev.columns).collect()))
    assert a == b
