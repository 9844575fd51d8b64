"""Source/sink operator tests (SURVEY.md §2.1): permissive CSV, JSONL,
kafka-shaped batch, partitioned writes, feed ingest, archive move."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ssafynews_data_spark.schemas import ARTICLE_RAW_CSV, ARTICLE_WIRE
from ssafynews_data_spark.sources.feeds import archive_files, entries_to_frame
from ssafynews_data_spark.sources.readers import (
    read_json_articles,
    read_kafka_like_json,
    read_pipe_csv,
)
from ssafynews_data_spark.sources.sinks import write_partitioned


def test_pipe_csv_permissive_corrupt_records(spark, tmp_path):
    p = tmp_path / "a.csv"
    p.write_text(
        "title|reporter|link|article|published|category|category_str\n"
        "t1|r1 기자|l1|body text|2024-01-01|경제|x\n"
        'bad"row|with|too|many|fields|entirely|broken|extra|cols\n'
        "t2|r2 기자|l2|more body|2024-01-02|정치|y\n"
    )
    df = read_pipe_csv(spark, str(p), ARTICLE_RAW_CSV)
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(good) == 2 and len(bad) == 1
    assert good[0].title == "t1"


def test_jsonl_explicit_schema(spark, tmp_path):
    p = tmp_path / "a.jsonl"
    recs = [
        {"author": "a1", "link": "l1", "summary": "s", "title": "t", "updated": "2024-01-01"},
        {"author": "a2", "link": "l2", "summary": "s", "title": "t", "updated": "2024-01-02"},
    ]
    p.write_text("\n".join(json.dumps(r) for r in recs))
    df = read_json_articles(spark, str(p), ARTICLE_WIRE)
    assert df.count() == 2
    assert df.schema["author"].dataType.typeName() == "string"


def test_kafka_like_json_batch(spark, tmp_path):
    p = tmp_path / "topic_dump.txt"
    msgs = [
        {"author": "a", "link": "l1", "summary": "s1", "title": "t1", "updated": "2024-01-01"},
        {"author": "b", "link": "l2", "summary": "s2", "title": "t2", "updated": "2024-01-02"},
    ]
    p.write_text("\n".join(json.dumps(m) for m in msgs))
    df = read_kafka_like_json(spark, str(p), ARTICLE_WIRE)
    assert sorted(r.link for r in df.collect()) == ["l1", "l2"]


def test_write_partitioned_daily_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [("l1", "2024-01-01 10:00:00"), ("l2", "2024-01-02 11:00:00")],
        "link string, published_at string",
    ).withColumn("published_at", F.to_timestamp("published_at"))
    out = str(tmp_path / "archive")
    write_partitioned(df, out)
    parts = {d for d in os.listdir(out) if d.startswith("year_month_day=")}
    assert parts == {"year_month_day=20240101", "year_month_day=20240102"}
    back = spark.read.parquet(out)
    # partition pruning: day filter touches one partition
    pruned = back.filter(F.col("year_month_day") == "20240101")
    assert pruned.count() == 1


def test_feed_entries_project_and_dedup(spark):
    entries = [
        {"author": "a", "link": "l1", "summary": "s", "title": "t", "updated": "u",
         "extra_field": "dropped"},
        {"link": "l1", "title": "dup of l1"},
        {"link": "l2"},  # sparse entry → nulls
    ]
    df = entries_to_frame(spark, entries)
    rows = {r.link: r for r in df.collect()}
    assert set(rows) == {"l1", "l2"}
    assert rows["l2"].author is None
    assert set(df.columns) == {"author", "link", "summary", "title", "updated"}


def test_archive_files_moves_everything(spark, tmp_path):
    src = tmp_path / "realtime"
    dst = tmp_path / "news_archive"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.json").write_text("{}")
    moved = archive_files(spark, str(src), str(dst))
    assert moved == 3
    assert sorted(os.listdir(dst)) == ["f0.json", "f1.json", "f2.json"]
    assert os.listdir(src) == []


def test_csv_sink_roundtrip(spark, tmp_path):
    from ssafynews_data_spark.sources.sinks import write_csv

    df = spark.createDataFrame([("t1", 1), ("t2", 2)], "title string, n int")
    out = str(tmp_path / "csvout")
    write_csv(df, out)
    back = spark.read.option("header", "true").csv(out)
    assert sorted((r.title, int(r.n)) for r in back.collect()) == [("t1", 1), ("t2", 2)]


def test_kafka_payload_roundtrip(spark):
    from ssafynews_data_spark.sources.sinks import kafka_payload

    df = spark.createDataFrame(
        [("a", "l1", "s", "t", "2024-01-01")], ARTICLE_WIRE
    )
    payload = kafka_payload(df)
    assert payload.columns == ["value"]
    back = payload.select(
        F.from_json(F.col("value"), ARTICLE_WIRE).alias("m")
    ).select("m.*")
    assert back.collect() == df.collect()


def test_approx_distinct_within_tolerance(spark, sf_dir):
    from ssafynews_data_spark.operators.relational2 import approx_distinct_profile
    from ssafynews_data_spark.sources.readers import load_table

    est = approx_distinct_profile(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("o"),
        F.countDistinct("l_partkey").alias("p"),
    ).collect()[0]
    assert abs(est.approx_orders - exact.o) / exact.o < 0.1
    assert abs(est.approx_parts - exact.p) / exact.p < 0.1


def test_write_training_shards_layout(spark, sf_dir, tmp_path):
    """Shard writer: exactly n files, hash-stable assignment, and each
    shard internally sorted by the requested column."""
    import glob

    from ssafynews_data_spark.sources.readers import load_table
    from ssafynews_data_spark.sources.sinks import write_training_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=4, shard_key="doc_id", sort_col="doc_id")

    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == 4

    total = 0
    for f in files:
        ids = [r.doc_id for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids), "shard not internally sorted"
        total += len(ids)
    assert total == docs.count()


def test_orc_round_trip_with_partition_pruning(spark, sf_dir, tmp_path):
    """ORC is the second built-in columnar format: write the documents
    table partitioned by lang, read it back intact, and confirm a
    single-lang filter compiles to a partition-pruned ORC scan."""
    from pyspark.sql import functions as F

    from ssafynews_data_spark.sources.readers import load_table
    from ssafynews_data_spark.sources.sinks import write_partitioned

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_orc")
    write_partitioned(docs, path, partition_col="lang", fmt="orc")

    back = spark.read.orc(path)
    assert back.count() == docs.count()
    spark_sum = back.agg(F.sum("n_chars")).first()[0]
    assert spark_sum == docs.agg(F.sum("n_chars")).first()[0]

    en = back.filter(F.col("lang") == "en")
    plan = en._jdf.queryExecution().executedPlan().toString()
    assert "OrcScan" in plan or "Format: ORC" in plan or "orc" in plan.lower()
    assert "PartitionFilters: [isnotnull(lang)" in plan or "lang#" in plan.split("PartitionFilters")[1].split("]")[0]
    assert en.count() == docs.filter(F.col("lang") == "en").count()


def test_python_datasource_feed(spark):
    """The Python DataSource API feed source: partition-per-feed
    parallel ingest, option handling, schema contract, and composition
    with the link-dedup that follows ingest."""
    from pyspark.sql import functions as F

    from ssafynews_data_spark.schemas import ARTICLE_WIRE
    from ssafynews_data_spark.sources.feed_datasource import register_feed_source

    register_feed_source(spark)
    df = (
        spark.read.format("news_feed")
        .option("feeds", 3)
        .option("entriesPerFeed", 10)
        .load()
    )
    assert [f.name for f in df.schema.fields] == [f.name for f in ARTICLE_WIRE.fields]
    assert df.rdd.getNumPartitions() == 3  # one task per feed
    rows = df.collect()
    assert len(rows) == 30
    assert len({r.link for r in rows}) == 30  # links unique across feeds
    per_feed = (
        df.groupBy(F.regexp_extract("link", r"https://feed(\d+)", 1).alias("feed"))
        .count()
        .collect()
    )
    assert {r.feed: r["count"] for r in per_feed} == {"0": 10, "1": 10, "2": 10}
    # composes with the ingest dedup (S1 -> D1)
    deduped = df.dropDuplicates(["link"])
    assert deduped.count() == 30


def test_python_datasource_feed_stream(spark, tmp_path):
    """Streaming form of the feed source: each micro-batch is one poll
    cycle; the source exhausts after max_polls so processAllAvailable
    terminates; offsets replay deterministically."""
    import uuid

    from ssafynews_data_spark.sources.feed_datasource import (
        FeedStreamReader,
        register_feed_source,
    )

    register_feed_source(spark)
    stream = (
        spark.readStream.format("news_feed")
        .option("feeds", 2)
        .option("entriesPerFeed", 5)
        .option("maxPolls", 3)
        .load()
    )
    name = "feedstream_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    assert len(rows) == 3 * 2 * 5  # polls x feeds x entries
    assert len({r.link for r in rows}) == 30  # poll-qualified links unique

    # recovery contract: readBetweenOffsets == the union of the polls
    r = FeedStreamReader({"feeds": "2", "entriesperfeed": "5", "maxpolls": "3"})
    replay = list(r.readBetweenOffsets({"poll": 0}, {"poll": 3}))
    assert len(replay) == 30
    direct = []
    off = r.initialOffset()
    for _ in range(5):
        it, off = r.read(off)
        direct.extend(it)
    assert sorted(replay) == sorted(direct)


def test_observed_write_metrics_free_of_second_scan(spark, sf_dir, tmp_path):
    """observe() metrics ride the write job itself; values must match an
    independent recount."""
    from ssafynews_data_spark.sources.readers import load_table
    from ssafynews_data_spark.sources.sinks import observed_write

    docs = load_table(spark, sf_dir, "documents")
    got = observed_write(
        docs, str(tmp_path / "audited"), audit_cols=("text", "lang")
    )
    n = docs.count()
    assert got["n_rows"] == n
    assert got["nulls_text"] == docs.filter(F.col("text").isNull()).count()
    assert got["nulls_lang"] == docs.filter(F.col("lang").isNull()).count()
    back = spark.read.parquet(str(tmp_path / "audited"))
    assert back.count() == n


def test_jsonl_sink_batch_two_phase_commit(spark, tmp_path):
    """Custom Python DataSource WRITER: every task file lands, the
    driver manifest names exactly those files, and a manifest-honoring
    read recovers every row."""
    import os

    from ssafynews_data_spark.sources.jsonl_datasource import (
        read_manifest_files,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    d = str(tmp_path / "out")
    df = spark.range(0, 100).selectExpr(
        "id", "concat('doc-', id) AS name", "id % 7 AS bucket"
    ).repartition(5)
    df.write.format("jsonl_dir").option("path", d).mode("append").save()

    files, rows = read_manifest_files(d)
    assert rows == 100
    assert sorted(files) == sorted(
        f for f in os.listdir(d) if f.startswith("part-")
    )
    back = spark.read.json([os.path.join(d, f) for f in files])
    assert back.count() == 100
    assert {r.id for r in back.collect()} == set(range(100))


def test_jsonl_sink_streaming_per_epoch_manifests(spark, tmp_path):
    """Streaming flavor: each micro-batch commits its own manifest; the
    union of manifests covers the whole stream exactly once."""
    import os

    from ssafynews_data_spark.sources.feed_datasource import register_feed_source
    from ssafynews_data_spark.sources.jsonl_datasource import (
        read_manifest_files,
        register_jsonl_sink,
    )

    register_feed_source(spark)
    register_jsonl_sink(spark)
    d = str(tmp_path / "stream_out")
    stream = (
        spark.readStream.format("news_feed")
        .option("feeds", "3")
        .option("entriesperfeed", "4")
        .option("maxpolls", "2")
        .load()
    )
    q = (
        stream.writeStream.format("jsonl_dir")
        .option("path", d)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    manifests = [f for f in os.listdir(d) if f.startswith("_batch-")]
    assert len(manifests) >= 2  # one per poll cycle
    files, rows = read_manifest_files(d)
    assert rows == 2 * 3 * 4  # polls x feeds x entries
    back = spark.read.json([os.path.join(d, f) for f in files])
    assert back.count() == rows
    assert back.select("link").distinct().count() == rows  # unique per poll


def test_evolving_parquet_reads_mixed_vintage_shards(spark, tmp_path):
    """v1 shards lack `lang`; v2 shards add it and drop `legacy`.  The
    contract read returns one stable frame: null-filled where a vintage
    never wrote the column, extra columns pruned."""
    from pyspark.sql import types as T

    from ssafynews_data_spark.sources.readers import read_evolving_parquet

    d = str(tmp_path / "shards")
    v1 = spark.createDataFrame(
        [(1, "a", "old"), (2, "b", "old")], "doc_id long, text string, legacy string"
    )
    v2 = spark.createDataFrame(
        [(3, "c", "en"), (4, "d", "ko")], "doc_id long, text string, lang string"
    )
    v1.write.parquet(d + "/part=v1")
    v2.write.parquet(d + "/part=v2")

    contract = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    out = read_evolving_parquet(spark, d, contract)
    assert [f.name for f in out.schema.fields] == ["doc_id", "text", "lang"]
    rows = {r.doc_id: r.lang for r in out.collect()}
    assert rows == {1: None, 2: None, 3: "en", 4: "ko"}


def test_feed_source_pushes_author_filter(spark):
    """Spark 4 DataSource filter pushdown: an author equality prunes
    which feeds are fetched — partitions shrink BEFORE scheduling, and
    the absorbed filter is not re-applied post-scan (results stay
    correct either way; partition count is the proof of pushdown)."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from ssafynews_data_spark.sources.feed_datasource import (
        FeedDataSource,
        FeedReader,
    )

    spark.dataSource.register(FeedDataSource)
    df = (
        spark.read.format("news_feed")
        .option("feeds", "14")
        .load()
        .filter(F.col("author") == "author-1")
    )
    rows = df.collect()
    assert len(rows) == 2 * 25  # feeds 1 and 8 of 14
    assert {r.author for r in rows} == {"author-1"}

    pruned = FeedReader({"feeds": "14"})
    leftover = list(pruned.pushFilters([EqualTo(("author",), "author-1")]))
    assert leftover == []  # fully absorbed
    assert len(pruned.partitions()) == 2
    full = FeedReader({"feeds": "14"})
    list(full.pushFilters([]))
    assert len(full.partitions()) == 14


# -- load_table memo -----------------------------------------------------------


def _write_table(path, n: int, extra: bool = False) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {"event_id": pa.array(range(n), pa.int64())}
    if extra:
        cols["score"] = pa.array([float(i) for i in range(n)])
    pq.write_table(pa.table(cols), str(path))


@pytest.fixture
def reads(monkeypatch):
    """Count the tables load_table actually resolves (memo misses)."""
    from ssafynews_data_spark.sources import readers

    calls = []
    real = readers._read_table

    def spy(spark, path, name):
        calls.append(path)
        return real(spark, path, name)

    monkeypatch.setattr(readers, "_read_table", spy)
    return calls


def test_load_table_second_call_is_a_hit(spark, tmp_path, reads):
    from ssafynews_data_spark.sources.readers import load_table

    _write_table(tmp_path / "t.parquet", 4)
    a = load_table(spark, str(tmp_path), "t")
    b = load_table(spark, str(tmp_path), "t")
    assert b is a and len(reads) == 1
    assert sorted(r.event_id for r in b.collect()) == [0, 1, 2, 3]


def test_load_table_sees_file_rewritten_in_place(spark, tmp_path, reads):
    from ssafynews_data_spark.sources.readers import load_table

    _write_table(tmp_path / "t.parquet", 3)
    assert load_table(spark, str(tmp_path), "t").count() == 3
    _write_table(tmp_path / "t.parquet", 5, extra=True)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["event_id", "score"] and df.count() == 5
    assert len(reads) == 2


def test_load_table_sees_file_added_to_directory_table(spark, tmp_path, reads):
    from ssafynews_data_spark.sources.readers import load_table

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write_table(d / "part-0.parquet", 3)
    assert load_table(spark, str(tmp_path), "t").count() == 3
    assert load_table(spark, str(tmp_path), "t").count() == 3
    _write_table(d / "part-1.parquet", 2)
    assert load_table(spark, str(tmp_path), "t").count() == 5
    assert len(reads) == 2


def test_load_table_new_session_gets_its_own_entry(spark, tmp_path, reads):
    from ssafynews_data_spark.sources.readers import load_table

    _write_table(tmp_path / "t.parquet", 2)
    other = spark.newSession()
    a = load_table(spark, str(tmp_path), "t")
    b = load_table(other, str(tmp_path), "t")
    assert b is not a and len(reads) == 2
    assert b.sparkSession._jsparkSession.sessionUUID() == other._jsparkSession.sessionUUID()
    assert load_table(other, str(tmp_path), "t") is b and len(reads) == 2
    assert b.count() == 2


def test_load_table_memo_bound_evicts_oldest(spark, tmp_path, reads, monkeypatch):
    from ssafynews_data_spark.sources import readers

    monkeypatch.setattr(readers, "TABLE_MEMO_MAX", 2)
    for name in ("a", "b", "c"):
        _write_table(tmp_path / f"{name}.parquet", 1)
        readers.load_table(spark, str(tmp_path), name)
    assert len(readers._MEMO) == 2 and len(reads) == 3
    readers.load_table(spark, str(tmp_path), "c")  # newest: still kept
    assert len(reads) == 3
    readers.load_table(spark, str(tmp_path), "a")  # oldest: evicted
    assert len(reads) == 4 and len(readers._MEMO) == 2


def test_load_table_concurrent_calls_through_run_parallel(spark, tmp_path, reads):
    from ssafynews_data_spark.parallel import run_parallel
    from ssafynews_data_spark.sources.readers import load_table

    sizes = {"a": 2, "b": 3, "c": 4}
    for name, n in sizes.items():
        _write_table(tmp_path / f"{name}.parquet", n)
    names = list(sizes) * 3
    counts = run_parallel(
        *[lambda n=n: load_table(spark, str(tmp_path), n).count() for n in names]
    )
    assert list(counts) == [sizes[n] for n in names]
    misses = len(reads)
    for name in sizes:
        load_table(spark, str(tmp_path), name)
    assert len(reads) == misses  # every table is memoized afterwards


def test_load_table_missing_table_raises_spark_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from ssafynews_data_spark.sources.readers import load_table

    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")


def test_load_table_memo_thread_stress(tmp_path, monkeypatch):
    """More threads than cores hammer a small memo with a short switch
    interval: every call gets its own table, and the memo never holds
    more than its bound (a lost update would break one or the other)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from ssafynews_data_spark.sources import readers

    class _JSession:
        def sessionUUID(self):
            return "stress-session"

    class _Spark:
        _jsparkSession = _JSession()

        class conf:
            @staticmethod
            def set(key, value):
                pass

    names = [f"t{i}" for i in range(6)]
    for name in names:
        (tmp_path / f"{name}.parquet").write_bytes(b"x")
    monkeypatch.setattr(readers, "TABLE_MEMO_MAX", 3)
    monkeypatch.setattr(readers, "_read_table", lambda spark, path, name: (name, path))
    monkeypatch.setattr(readers, "_MEMO", type(readers._MEMO)())
    spark = _Spark()

    def worker(k):
        got = []
        for j in range(300):
            name = names[(k * 7 + j) % len(names)]
            got.append(readers.load_table(spark, str(tmp_path), name)[0] == name)
            with readers._MEMO_LOCK:
                assert len(readers._MEMO) <= readers.TABLE_MEMO_MAX
        return all(got)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            results = [f.result(timeout=60) for f in [pool.submit(worker, k) for k in range(16)]]
    finally:
        sys.setswitchinterval(old)
    assert results == [True] * 16
    assert len(readers._MEMO) <= readers.TABLE_MEMO_MAX
