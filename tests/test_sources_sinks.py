"""Sources/sinks round-trips + JDBC option plumbing (SURVEY.md §2.5)."""

import os

import pytest

from tests.conftest import SF_DIR


def _orders(spark):
    from postgres_s3_etl_spark.sources.files import read_parquet

    return read_parquet(spark, os.path.join(SF_DIR, "orders.parquet"))


def test_csv_roundtrip(spark, tmp_path):
    from postgres_s3_etl_spark.sinks.files import write_csv_dir
    from postgres_s3_etl_spark.sources.files import read_csv

    df = _orders(spark).select("o_orderkey", "o_orderstatus", "o_totalprice")
    out = str(tmp_path / "orders_csv")
    write_csv_dir(df, out)
    back = read_csv(
        spark,
        out,
        schema="o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )
    assert back.count() == df.count()
    assert back.schema == df.schema


def test_single_file_csv_export(spark, tmp_path):
    from postgres_s3_etl_spark.operators.etl import QUERIES
    from postgres_s3_etl_spark.sinks.files import export_csv

    dest = str(tmp_path / "exports" / "agg_shipments.csv")
    export_csv(QUERIES["etl_agg_shipments"](spark, SF_DIR), dest)
    with open(dest) as f:
        lines = f.read().strip().splitlines()
    assert lines[0] == "ingestion_date,tt_late_shipments,tt_undelivered_items"
    assert len(lines) == 2


def test_parquet_partitioned_write_and_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.sinks.files import write_parquet
    from postgres_s3_etl_spark.sources.files import read_parquet

    df = _orders(spark).withColumn("order_year", F.year("o_orderdate"))
    out = str(tmp_path / "orders_by_year")
    write_parquet(df, out, partition_by=("order_year",))
    assert any(p.startswith("order_year=") for p in os.listdir(out))

    back = read_parquet(spark, out).where(F.col("order_year") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_year" in plan or "order_year" in plan
    years = [r.order_year for r in back.select("order_year").distinct().collect()]
    assert years == [1995]


def test_json_orc_roundtrip(spark, tmp_path):
    from postgres_s3_etl_spark.sinks.files import write_json, write_orc
    from postgres_s3_etl_spark.sources.files import read_json, read_orc

    df = _orders(spark).select("o_orderkey", "o_orderpriority")
    write_json(df, str(tmp_path / "j"))
    write_orc(df, str(tmp_path / "o"))
    back_j = read_json(spark, str(tmp_path / "j"), schema="o_orderkey bigint, o_orderpriority string")
    back_o = read_orc(spark, str(tmp_path / "o"))
    assert back_j.count() == df.count()
    assert back_o.count() == df.count()


def test_stream_parquet_sink_exactly_once(spark, tmp_path):
    """Checkpointed file sink: restarting the same availableNow
    stream over the same checkpoint must not duplicate rows."""
    from postgres_s3_etl_spark.sinks.streaming import write_stream_parquet
    from tests.conftest import SF_DIR

    from postgres_s3_etl_spark.streaming.events_stream import (
        read_events_stream,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = read_events_stream(spark, SF_DIR).select(
        "event_id", "user_id", "event_type"
    )
    q1 = write_stream_parquet(src, out, ckpt)
    q1.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # "restart": same checkpoint, same input — nothing new to process
    q2 = write_stream_parquet(
        read_events_stream(spark, SF_DIR).select(
            "event_id", "user_id", "event_type"
        ),
        out,
        ckpt,
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n1
    # exactly-once vs the batch source truth
    from postgres_s3_etl_spark.catalog import load_table

    assert n1 == load_table(spark, SF_DIR, "events").count()


def test_foreach_batch_idempotent_replay(spark, tmp_path):
    """foreachBatch upsert contract: delivering the same batch twice
    (crash replay) commits once via the batch-marker pattern."""
    import os

    from postgres_s3_etl_spark.sinks.streaming import (
        batch_marker_dir,
        foreach_batch_upsert,
    )
    from tests.conftest import SF_DIR
    from postgres_s3_etl_spark.streaming.events_stream import (
        read_events_stream,
    )

    base = str(tmp_path / "base")
    applied: list[int] = []

    def apply(df, batch_id):
        dest = batch_marker_dir(base, batch_id)
        if os.path.exists(dest):
            return  # replay of a committed batch — no-op
        df.write.parquet(dest)
        applied.append(batch_id)
        # simulate a crash-replay: call again with the same batch
        apply(df, batch_id)

    src = read_events_stream(spark, SF_DIR).select("event_id")
    q = foreach_batch_upsert(src, str(tmp_path / "ck"), apply)
    q.awaitTermination()
    assert applied  # ran at least one batch
    assert len(applied) == len(set(applied))  # each committed once
    total = spark.read.parquet(base + "/batch_id=*").count()
    from postgres_s3_etl_spark.catalog import load_table

    assert total == load_table(spark, SF_DIR, "events").count()


def test_materialized_rollup_equals_batch(spark, tmp_path):
    """Incremental materialized view: the streamed, partition-
    overwritten rollup table equals the batch aggregation."""
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.catalog import load_table
    from postgres_s3_etl_spark.sinks.streaming import materialize_rollup
    from postgres_s3_etl_spark.streaming.events_stream import (
        read_events_stream,
    )
    from tests.conftest import SF_DIR

    agg = (
        read_events_stream(spark, SF_DIR)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
    )
    out = str(tmp_path / "view")
    q = materialize_rollup(agg, out, str(tmp_path / "ck"), "event_type")
    q.awaitTermination()
    got = {
        r.event_type: (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_type: (r.n_events, r.total_value)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_write_parquet_range_sorted_gives_disjoint_files(spark, tmp_path):
    """Range-sorted layout: every output file covers a disjoint key
    range (what lets parquet min/max stats skip files on range
    predicates)."""
    import glob as _glob

    from postgres_s3_etl_spark.sinks.files import write_parquet_range_sorted
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "ranged")
    write_parquet_range_sorted(df, out, "k", n_files=8)
    spans = []
    for f in _glob.glob(out + "/part-*.parquet"):
        r = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        if r.n:
            spans.append((r.lo, r.hi))
    spans.sort()
    assert len(spans) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint — a range predicate skips files
    assert spark.read.parquet(out).count() == 10_000


def test_write_parquet_sized(spark, tmp_path):
    """maxRecordsPerFile brackets output file sizes without a shuffle."""
    import glob as _glob

    from postgres_s3_etl_spark.sinks.files import write_parquet_sized

    df = spark.range(10_000).repartition(2)
    out = str(tmp_path / "sized")
    write_parquet_sized(df, out, max_rows_per_file=1_000)
    files = _glob.glob(out + "/part-*.parquet")
    assert len(files) >= 10  # 10k rows / 1k cap
    for f in files:
        assert spark.read.parquet(f).count() <= 1_000
    assert spark.read.parquet(out).count() == 10_000


def test_csv_audited_quarantines_bad_rows(spark, tmp_path):
    """PERMISSIVE ingest: malformed rows are captured in
    _corrupt_record, clean rows parse — nothing fails, nothing is
    silently dropped."""
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.sources.files import read_csv_audited

    p = tmp_path / "in.csv"
    p.write_text(
        "id,qty,price\n"
        "1,5,9.99\n"
        "2,notanumber,1.50\n"  # malformed qty
        "3,7,2.25\n"
    )
    df = read_csv_audited(
        spark, str(p), "id bigint, qty bigint, price double"
    ).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert sorted(r.id for r in good.collect()) == [1, 3]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "notanumber" in bad_rows[0]._corrupt_record
    df.unpersist()


def test_binary_file_source(spark, tmp_path):
    """binaryFile ingest: one row per file with content bytes; glob
    and size predicates prune before content moves."""
    from postgres_s3_etl_spark.sources.files import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02" * 10)
    (tmp_path / "b.bin").write_bytes(b"\xff" * 100)
    (tmp_path / "skip.txt").write_text("not binary payload")

    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.split("/")[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\x00\x01\x02" * 10
    assert rows["b.bin"].length == 100

    small = read_binary_files(spark, str(tmp_path), glob="*.bin", max_bytes=50)
    assert [r.path.split("/")[-1] for r in small.collect()] == ["a.bin"]


def test_salted_join_equals_plain_join(spark):
    """salted_join must be row-identical to the plain join while
    spreading a hot key over n_salts shards."""
    from postgres_s3_etl_spark.functions.skew import salted_join
    from pyspark.sql import functions as F

    # 10k rows of one hot key + a long tail
    big = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, "hot").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k0", 2), ("k3", 3)], "k string, w int"
    )
    salted = salted_join(big, small, ["k"]).collect()
    plain = big.join(small, "k").collect()
    key = lambda r: (r.k, r.v, r.w)  # noqa: E731
    assert sorted(map(key, salted)) == sorted(map(key, plain))
    # the salted plan joins on (k, _salt) — both exchanges carry salt
    plan = salted_join(big, small, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_jdbc_reader_options():
    """No live DB in the container — verify the option plumbing that
    Spark's JDBC source consumes (partitioned read + pushdown)."""
    from postgres_s3_etl_spark.sources.jdbc import JdbcConfig, read_table

    cfg = JdbcConfig(
        url="jdbc:postgresql://localhost:5432/db", user="u", password="p"
    )
    assert cfg.options()["driver"] == "org.postgresql.Driver"

    class FakeReader:
        def __init__(self):
            self.opts = {}

        def format(self, f):
            self.fmt = f
            return self

        def options(self, **kw):
            self.opts.update(kw)
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            return self.opts

    class FakeSpark:
        def __init__(self):
            self.read = FakeReader()

    opts = read_table(
        FakeSpark(),
        cfg,
        "staging.orders",
        partition_column="order_id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=32,
        predicate="order_date >= DATE '2022-01-01'",
    )
    assert opts["numPartitions"] == "32"
    assert "WHERE order_date" in opts["dbtable"]

    with pytest.raises(ValueError):
        read_table(FakeSpark(), cfg, "t", partition_column="id")


def test_jdbc_live_roundtrip_embedded_derby(spark, tmp_path):
    """Live JDBC round-trip against the Derby embedded driver that
    ships in Spark's jars: write_table → plain read, partitioned
    (range-sliced) read, and database-side predicate pushdown all
    against a real database — the same wrapper code a Postgres URL
    would use (only JdbcConfig.url/driver change)."""
    from postgres_s3_etl_spark.sources.jdbc import (
        JdbcConfig,
        read_table,
        write_table,
    )

    cfg = JdbcConfig(
        url=f"jdbc:derby:{tmp_path}/db;create=true",
        user="app",
        password="app",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    rows = [(i, f"name{i}", float(i) * 1.5) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, name string, val double")
    write_table(df, cfg, "T_ROUNDTRIP", mode="overwrite", batch_size=25)

    back = read_table(spark, cfg, "T_ROUNDTRIP")
    assert sorted((r.id, r.name, r.val) for r in back.collect()) == rows

    sliced = read_table(
        spark,
        cfg,
        "T_ROUNDTRIP",
        partition_column="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    )
    assert sliced.rdd.getNumPartitions() == 4
    assert sliced.count() == 100

    # Derby folds unquoted identifiers to uppercase while Spark's JDBC
    # writer creates quoted lowercase columns — quote in the predicate.
    pushed = read_table(spark, cfg, "T_ROUNDTRIP", predicate='"id" < 10')
    assert pushed.count() == 10


def test_avro_gates_without_module(spark, tmp_path):
    """No spark-avro jar in this container: both directions must fail
    fast with submit guidance (and round-trip if it ever appears)."""
    import pytest as _pytest

    from postgres_s3_etl_spark.sources.files import (
        avro_available,
        read_avro,
        write_avro,
    )

    df = spark.range(3)
    if avro_available(spark):
        write_avro(df, str(tmp_path / "a"))
        assert read_avro(spark, str(tmp_path / "a")).count() == 3
        _pytest.skip("module present; gate not exercised")
    with _pytest.raises(RuntimeError, match="spark-avro"):
        write_avro(df, str(tmp_path / "a"))
    with _pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "a"))


def test_read_text_lines_and_whole_file(spark, tmp_path):
    from pyspark.sql import functions as F

    from postgres_s3_etl_spark.sources.files import read_text

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.txt").write_text("alpha\nbeta\n")
    (p / "b.txt").write_text("gamma\n")
    lines = read_text(spark, str(p))
    assert lines.columns == ["value"]
    assert sorted(r.value for r in lines.collect()) == ["alpha", "beta", "gamma"]
    whole = read_text(spark, str(p), whole_file=True).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    got = {r.f: r.value for r in whole.collect()}
    assert got == {"a.txt": "alpha\nbeta\n", "b.txt": "gamma\n"}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Two batches with evolving schemas (added column, reordered
    fields) must unify under read_parquet_evolving: old rows carry
    NULL for the new column, and the plain reader's single-footer
    behavior is documented by contrast."""
    from postgres_s3_etl_spark.sources.files import (
        read_parquet,
        read_parquet_evolving,
    )

    d = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(d + "/batch=1")
    spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.7)],
        "id long, name string, score double",
    ).write.parquet(d + "/batch=2")

    merged = read_parquet_evolving(spark, d)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert len(rows) == 4
    assert rows[1].score is None and rows[4].score == 0.7

    # The non-merging reader resolves ONE schema; whichever footer
    # wins, it cannot represent both batches faithfully.
    plain = read_parquet(spark, d)
    assert set(plain.columns) != set()  # reads, but schema is lossy
