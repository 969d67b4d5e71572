"""Source helpers: CSV (reference fixture format) and streaming factory."""

import shutil
import tempfile

from flink_ml__spark.sources import load_table, read_csv, read_stream


def test_read_csv_roundtrip(spark):
    d = tempfile.mkdtemp(prefix="csv_src_")
    try:
        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        (docs.select("doc_id", "lang", "n_chars").coalesce(1)
         .write.mode("overwrite").option("header", True).csv(d))
        back = read_csv(spark, d, schema="doc_id long, lang string, "
                                         "n_chars long")
        assert back.count() == docs.count()
        assert back.columns == ["doc_id", "lang", "n_chars"]
        inferred = read_csv(spark, d)
        assert dict(inferred.dtypes)["doc_id"] in ("int", "bigint")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_events_ts_normalized_across_parquet_layouts(spark, tmp_path):
    """`load_table` must deliver `events.ts` as TIMESTAMP (tz-aware)
    whatever the fixture's physical layout — the driver has shipped
    int64-nanos, and later timestamp[us]-NTZ; a third layout change must
    not silently re-break `unix_millis(ts)` (round-3 regression)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    micros = [1_700_000_000_000_000 + i * 1_000_000 for i in range(5)]
    base = {
        "event_id": pa.array(range(5), pa.int64()),
        "user_id": pa.array([1, 2, 1, 3, 2], pa.int64()),
        "event_type": pa.array(["a", "b", "a", "c", "b"]),
        "value": pa.array([0.1, 0.2, 0.3, 0.4, 0.5], pa.float64()),
        "props": pa.array(["{}"] * 5),
    }
    layouts = {
        "nanos_int64": pa.array([m * 1000 for m in micros], pa.int64()),
        "micros_ntz": pa.array(micros, pa.timestamp("us")),
        "micros_utc": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    for name, ts_arr in layouts.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.table({"event_id": base["event_id"],
                                 "ts": ts_arr, **base}),
                       str(d / "events.parquet"))
        ev = load_table(spark, "events", str(d))
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType), name
        got = [r[0] for r in
               ev.select(F.unix_millis("ts")).orderBy("event_id").collect()]
        assert got == [m // 1000 for m in micros], name


def test_load_table_schema_memo_follows_rewrites(spark, tmp_path):
    """load_table reuses the schema it inferred for a parquet file, and
    infers again once the file at that path is rewritten — here with a
    different schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_ml__spark.sources import registry

    path = str(tmp_path / "part.parquet")
    pq.write_table(pa.table({"p_partkey": [1, 2], "p_size": [3, 4]}), path)
    first = load_table(spark, "part", str(tmp_path))
    assert first.columns == ["p_partkey", "p_size"]
    memo = dict(registry._SCHEMAS)
    again = load_table(spark, "part", str(tmp_path))
    assert registry._SCHEMAS == memo  # served from the memo
    assert again.collect() == first.collect()

    pq.write_table(pa.table({"p_partkey": [5], "p_name": ["x"],
                             "p_retailprice": [1.5]}), path)
    rewritten = load_table(spark, "part", str(tmp_path))
    assert rewritten.columns == ["p_partkey", "p_name", "p_retailprice"]
    assert [tuple(r) for r in rewritten.collect()] == [(5, "x", 1.5)]


def test_events_ts_live_fixture_is_timestamp(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    # unix_millis is what the OnlineTopsis gates run — must resolve
    ev.select(F.unix_millis("ts")).first()


def test_read_stream_rate(spark):
    stream = read_stream(spark, "rate", rowsPerSecond=10)
    assert stream.isStreaming
    assert set(stream.columns) == {"timestamp", "value"}


def test_read_stream_parquet_with_schema(spark):
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    stream = read_stream(
        spark, "parquet", path="/root/testdata/sf0.001/documents.parquet",
        schema=docs.schema.simpleString()[7:-1].replace(":", " "))
    assert stream.isStreaming


def test_read_json_roundtrip(spark, tmp_path):
    from flink_ml__spark.sources import read_json

    p = str(tmp_path / "j")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string")
    df.write.mode("overwrite").json(p)
    back = read_json(spark, p, schema="id long, name string")
    assert {(r["id"], r["name"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_write_parquet_partition_pruning(spark, tmp_path):
    """Partition directories must prune: a filter on the partition
    column reads only the matching directory."""
    from flink_ml__spark.sources import write_parquet

    p = str(tmp_path / "pp")
    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(30)],
        "id long, bucket int, payload string")
    write_parquet(df, p, partition_by=["bucket"])
    back = spark.read.parquet(p).filter("bucket = 1")
    assert back.count() == 10
    plan = back._jdf.queryExecution().executedPlan().toString()
    # pruned scan: partition count recorded in the FileScan metadata
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_write_bucketed_table_no_shuffle_join(spark, tmp_path):
    """Two tables bucketed identically must sort-merge join with NO
    exchange on either side — the co-located-join contract."""
    import uuid

    from flink_ml__spark.sources import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).withColumnRenamed("id", "k")
        b = spark.range(0, 1000).withColumnRenamed("id", "k")
        ta, tb = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
        write_bucketed_table(a, ta, ["k"], 4,
                             path=str(tmp_path / "ta"))
        write_bucketed_table(b, tb, ["k"], 4,
                             path=str(tmp_path / "tb"))
        j = spark.table(ta).join(spark.table(tb), "k")
        assert j.count() == 1000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_load_table_pins_session_conf_loudly(spark):
    """load_table must pin UTC/non-ANSI on a foreign session — but a
    pre-set conflicting value is overridden with a RuntimeWarning, not
    silently (the documented contract)."""
    import warnings

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            load_table(spark, "region", "/root/testdata/sf0.001")
        assert any("session.timeZone" in str(x.message)
                   and issubclass(x.category, RuntimeWarning) for x in w)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # matching values → quiet
        with warnings.catch_warnings(record=True) as w2:
            warnings.simplefilter("always")
            load_table(spark, "region", "/root/testdata/sf0.001")
        assert not [x for x in w2 if issubclass(x.category, RuntimeWarning)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_load_table_sets_only_differing_conf(spark, monkeypatch):
    """Confs that already hold the required value cost no ``conf.set``
    round trip; a foreign time zone is still set and warned about."""
    import warnings

    sf = "/root/testdata/sf0.001"
    load_table(spark, "region", sf)
    load_table(spark, "events", sf)
    conf = spark.conf  # one cached RuntimeConfig per session
    calls = []
    orig = conf.set

    def spy(key, value):
        calls.append(key)
        return orig(key, value)

    monkeypatch.setattr(conf, "set", spy)
    load_table(spark, "region", sf)
    load_table(spark, "events", sf)
    assert calls == []

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        orig("spark.sql.session.timeZone", "Asia/Tokyo")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            load_table(spark, "region", sf)
        assert calls == ["spark.sql.session.timeZone"]
        assert any("session.timeZone" in str(x.message)
                   and issubclass(x.category, RuntimeWarning) for x in w)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        orig("spark.sql.session.timeZone", prev)


def test_zorder_key_matches_reference_interleave(spark):
    from flink_ml__spark.sources.registry import zorder_key

    rows = [(i, float(x), float(y))
            for i, (x, y) in enumerate((a, b) for a in range(4)
                                       for b in range(4))]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    key, stats = zorder_key(df, ["x", "y"], bits=2)
    got = {r["id"]: r["zk"]
           for r in df.withColumn("zk", key).collect()}

    def ref(x, y):
        # quantize exactly as the operator: 4 cells over [0, 3]
        qx = min(max(int((x - 0.0) * (4 / 3.0)), 0), 3)
        qy = min(max(int((y - 0.0) * (4 / 3.0)), 0), 3)
        z = 0
        for b in range(2):
            z |= ((qx >> b) & 1) << (b * 2 + 0)
            z |= ((qy >> b) & 1) << (b * 2 + 1)
        return z
    for i, x, y in rows:
        assert got[i] == ref(x, y), (i, x, y)
    assert stats["x"] == (0.0, 3.0)

    import pytest
    with pytest.raises(ValueError):
        zorder_key(df, ["x"] * 10, bits=8)
    with pytest.raises(ValueError):
        zorder_key(df, [], bits=8)


def test_zorder_write_tightens_per_file_spans(spark, tmp_path):
    """The point of the layout: after z-ordering on (user_id, value),
    BOTH columns' per-file spans shrink well below the global span —
    a single-column sort only achieves that for its leading column."""
    from pyspark.sql import functions as SF

    from flink_ml__spark.sources import load_table
    from flink_ml__spark.sources.registry import write_zorder_parquet

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    zpath = str(tmp_path / "z")
    write_zorder_parquet(ev, zpath, ["user_id", "value"], num_files=8)

    def mean_span(path, col):
        df = spark.read.parquet(path)
        spans = (df.groupBy(SF.input_file_name())
                 .agg((SF.max(col) - SF.min(col)).alias("s")))
        return spans.agg(SF.avg("s")).first()[0]

    g = ev.agg((SF.max("value") - SF.min("value"))).first()[0]
    gu = ev.agg((SF.max("user_id") - SF.min("user_id"))).first()[0]
    # both dimensions cluster: average file span well under global
    # (measured ~0.35 g / ~0.41 gu at sf0.001)
    assert mean_span(zpath, "value") < 0.6 * g
    assert mean_span(zpath, "user_id") < 0.6 * gu

    # baseline: sorting by user_id alone clusters only user_id; its
    # value spans stay much wider than the z-order layout's
    spath = str(tmp_path / "s")
    (ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id")
     .write.mode("overwrite").parquet(spath))
    assert mean_span(spath, "value") > 1.5 * mean_span(zpath, "value")


def test_read_jsonl_stream_windowed_agg_matches_batch(spark, tmp_path):
    """REAL end-to-end JSON connector drive: newline-delimited JSON
    files stream in with a declared schema and a watermark; a windowed
    aggregate over the stream equals the same aggregate run in batch."""
    import json

    from pyspark.sql import functions as F

    from flink_ml__spark.sources import read_jsonl_stream

    d = tmp_path / "jsonl"
    d.mkdir()
    rows = [{"user": f"u{i % 3}",
             "ts": f"2024-01-01T00:{i:02d}:00Z",
             "value": i * 1.5} for i in range(30)]
    # two files — the source must pick up both
    (d / "a.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows[:17]))
    (d / "b.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows[17:]))

    schema = "user string, ts timestamp, value double"
    stream = read_jsonl_stream(spark, str(d), schema,
                               watermark=("ts", "5 minutes"))
    assert stream.isStreaming

    def agg(frame):
        return (frame.groupBy("user",
                              F.window("ts", "10 minutes").alias("w"))
                .agg(F.sum("value").alias("total"),
                     F.count(F.lit(1)).alias("n")))

    q = (agg(stream).writeStream.format("memory").queryName("jsonlwin")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user"], r["w"]["start"].minute, r["total"], r["n"])
           for r in spark.sql("SELECT * FROM jsonlwin").collect()}
    batch = spark.read.schema(schema).json(str(d))
    want = {(r["user"], r["w"]["start"].minute, r["total"], r["n"])
            for r in agg(batch).collect()}
    # append mode emits only windows the final watermark (max ts - 5
    # min = 00:24) has closed: minutes 0-9 and 10-19, NOT 20-29 —
    # exact batch parity on every closed window
    closed = {t for t in want if t[1] < 20}
    assert got == closed and len(got) == 6  # 3 users x 2 closed windows


def test_read_jsonl_stream_corrupt_lines_are_permissive(spark, tmp_path):
    from flink_ml__spark.sources import read_jsonl_stream

    d = tmp_path / "jsonl2"
    d.mkdir()
    (d / "a.jsonl").write_text('{"user": "u1", "value": 1.0}\n'
                               'NOT JSON AT ALL\n'
                               '{"user": "u2", "value": 2.0}')
    stream = read_jsonl_stream(spark, str(d),
                               "user string, value double")
    q = (stream.writeStream.format("memory").queryName("jsonlperm")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM jsonlperm").collect()
    assert len(rows) == 3   # corrupt line lands as an all-NULL row
    assert sorted(r["user"] for r in rows if r["user"]) == ["u1", "u2"]


def test_read_kafka_json_fails_fast_without_connector(spark):
    """Without the kafka connector jar the source must raise Spark's
    missing-data-source error at plan-build — never silently stub."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from flink_ml__spark.sources import read_kafka_json

    try:
        df = read_kafka_json(spark, "localhost:9092", "events",
                             "k int, ts timestamp")
    except AnalysisException:
        return     # expected in this container: no kafka package
    # connector present (other environments): plan must be streaming
    # with payload + metadata columns
    assert df.isStreaming
    assert {"k", "ts", "topic", "partition", "offset",
            "kafka_ts"} <= set(df.columns)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC carries the same pushdown contract as parquet: the filter
    must reach the scan (PushedFilters) and the projection must prune
    the read schema."""
    from flink_ml__spark.sources import load_table, read_orc, write_orc

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    p = str(tmp_path / "docs_orc")
    write_orc(docs, p, partition_by=["lang"])
    back = read_orc(spark, p)
    assert back.count() == docs.count()
    q = back.filter("lang = 'en'").select("doc_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan
    got = q.count()
    want = docs.filter("lang = 'en'").count()
    assert got == want


def test_text_and_jsonl_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from flink_ml__spark.sources import read_text, write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    p = str(tmp_path / "out_jsonl")
    write_jsonl(df, p, compression=None)
    back = spark.read.json(p)
    assert sorted((r["doc_id"], r["text"]) for r in back.collect()) \
        == [(1, "alpha"), (2, "beta")]
    # raw line reader sees one JSON object per line
    lines = read_text(spark, p)
    assert lines.count() == 2
    assert lines.filter(F.col("value").contains('"alpha"')).count() == 1


def test_overwrite_partitions_is_dynamic(spark, tmp_path):
    """Rewriting ONE partition must leave the others untouched — the
    idempotent-reload contract (static overwrite would wipe them)."""
    import pytest as _pt

    from flink_ml__spark.sources import overwrite_partitions

    p = str(tmp_path / "dyntab")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
         ("2024-01-02", 3, 30.0)], "dt string, id int, v double")
    overwrite_partitions(base, p, ["dt"])
    # reload day 1 with corrected values; day 2 must survive
    fix = spark.createDataFrame(
        [("2024-01-01", 1, 11.0)], "dt string, id int, v double")
    overwrite_partitions(fix, p, ["dt"])
    # partition values read back type-inferred (dates here)
    got = {(str(r["dt"]), r["id"]): r["v"]
           for r in spark.read.parquet(p).collect()}
    assert got == {("2024-01-01", 1): 11.0, ("2024-01-02", 3): 30.0}
    with _pt.raises(ValueError, match="partition_by"):
        overwrite_partitions(fix, p, [])


def test_read_merged_schema_unions_footers(spark, tmp_path):
    """Files written before a column existed read back with NULLs for
    it under mergeSchema; partition pruning still reaches the scan."""
    from flink_ml__spark.sources import (
        overwrite_partitions,
        read_merged_schema,
    )

    p = str(tmp_path / "evol")
    old = spark.createDataFrame(
        [("a", 1)], "part string, x int")
    overwrite_partitions(old, p, ["part"])
    new = spark.createDataFrame(
        [("b", 2, "extra")], "part string, x int, note string")
    overwrite_partitions(new, p, ["part"])
    df = read_merged_schema(spark, p)
    assert set(df.columns) == {"part", "x", "note"}
    rows = {r["part"]: r for r in df.collect()}
    assert rows["a"]["note"] is None and rows["b"]["note"] == "extra"
    # pruning: a partition filter reaches the file index
    plan = (df.filter("part = 'b'")._jdf.queryExecution()
            .executedPlan().toString())
    assert "PartitionFilters: [" in plan and "part" in plan
