"""Round-trip tests for the non-parquet source adapters (SURVEY §2.1 scan
rows: libsvm, delimited feature text, labeled text, edge-list text, COO
text) and the run-report artifact."""

from __future__ import annotations


def test_read_libsvm(spark, tmp_path):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import read_libsvm

    p = tmp_path / "data.libsvm"
    p.write_text("1.0 1:0.5 3:2.0\n0.0 2:1.5\n")
    df = read_libsvm(spark, str(p), num_features=4)
    rows = {r["label"]: r["features"] for r in df.collect()}
    assert rows[1.0].toArray().tolist() == [0.5, 0.0, 2.0, 0.0]
    assert rows[0.0].toArray().tolist() == [0.0, 1.5, 0.0, 0.0]


def test_read_features_csv(spark, tmp_path):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        read_features_csv,
    )

    p = tmp_path / "feat.txt"
    p.write_text("# comment line\n1.0,2.0,3.0\n4.0,5.0,6.0\n")
    rows = sorted(
        r["features"] for r in read_features_csv(spark, str(p)).collect()
    )
    assert rows == [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]


def test_read_labeled_text(spark, tmp_path):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        read_labeled_text,
    )

    p = tmp_path / "svm.txt"
    p.write_text("1,0.5 0.25\n-1,1.0 2.0\n")
    rows = {r["label"]: r["features"] for r in read_labeled_text(spark, str(p)).collect()}
    assert rows[1.0] == [0.5, 0.25]
    assert rows[-1.0] == [1.0, 2.0]


def test_read_edge_list(spark, tmp_path):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import read_edge_list

    p = tmp_path / "edges.txt"
    p.write_text("# header\n1 2\n2 3 0.5\n4 4\n3 1\n")
    rows = sorted(
        (r["src"], r["dst"], r["weight"]) for r in read_edge_list(spark, str(p)).collect()
    )
    # self-loop 4→4 dropped; default weight 1.0 applied
    assert rows == [(1, 2, 1.0), (2, 3, 0.5), (3, 1, 1.0)]


def test_read_coo_text(spark, tmp_path):
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import read_coo_text

    p = tmp_path / "coo.txt"
    p.write_text("0,1,2.5\n1,0,-1.0\n")
    rows = sorted(
        (r["row"], r["col"], r["value"]) for r in read_coo_text(spark, str(p)).collect()
    )
    assert rows == [(0, 1, 2.5), (1, 0, -1.0)]


def test_parquet_sink_roundtrip(spark, tmp_path):
    """Sink parity (§2.1): text/SequenceFile sinks standardize on parquet —
    write, re-read, compare."""
    df = spark.range(100).selectExpr("id", "id * 2 AS dbl")
    out = str(tmp_path / "sink")
    df.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert sorted(r["dbl"] for r in back.collect()) == [2 * i for i in range(100)]


def test_run_report_artifact(tmp_path):
    from spark_ml_algo_lib_master_tongji_spark.report import write_run_report

    p = write_run_report(
        "KMeans",
        {"k": 8, "maxIter": 10, "dataset": "embeddings"},
        cost_time_s=1.234,
        evaluation={"wssse": 42.5},
        load_time_s=0.5,
        out_dir=tmp_path,
    )
    text = p.read_text()
    assert "algorithmName: KMeans" in text
    assert "costTime: 1.234" in text
    assert "loadDataTime: 0.5" in text
    assert "wssse: 42.5" in text


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing parity (SURVEY §2.1 'co-located joins'): two tables
    bucketed+sorted on the join key join without any Exchange — the
    pre-shuffled layout a 100 TB fact/fact join relies on."""
    import io
    import contextlib
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(10_000).withColumn("va", F.col("id") * 2)
        b = spark.range(10_000).withColumn("vb", F.col("id") * 3)
        for name, df in (("bt_a", a), ("bt_b", b)):
            (
                df.write.mode("overwrite")
                .bucketBy(8, "id")
                .sortBy("id")
                .option("path", str(tmp_path / name))
                .saveAsTable(name)
            )
        j = spark.table("bt_a").join(spark.table("bt_b"), "id")
        assert j.count() == 10_000
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_seeded_sample_is_reproducible(spark):
    """Seeded sampling parity (SURVEY §2.1: `data.sample(false, frac, seed)`,
    ``KNN.scala:387``, ``LDARunner.scala:212-217``): the same seed over the
    same partitioning yields the same sample."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    a = sorted(
        r["l_orderkey"] * 10 + r["l_linenumber"]
        for r in df.sample(fraction=0.1, seed=2020).collect()
    )
    b = sorted(
        r["l_orderkey"] * 10 + r["l_linenumber"]
        for r in df.sample(fraction=0.1, seed=2020).collect()
    )
    assert a == b and len(a) > 0


def test_normalize_event_ts_all_physical_types(spark):
    """events.ts has shipped as TIMESTAMP(NANOS) (read as long via
    nanosAsLong), TIMESTAMP_NTZ, and plain TIMESTAMP across fixture
    generations; the normalizer must land all three on µs TIMESTAMP (LTZ —
    required by withWatermark) with identical values under the session's
    pinned UTC zone."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        normalize_event_ts,
    )

    micros = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z
    as_long = spark.createDataFrame([(micros * 1000,)], "ts long")
    as_ntz = spark.sql(
        f"select cast(timestamp_micros({micros}) as timestamp_ntz) as ts"
    )
    as_ltz = spark.sql(f"select timestamp_micros({micros}) as ts")

    outs = [normalize_event_ts(df) for df in (as_long, as_ntz, as_ltz)]
    for out in outs:
        assert dict(out.dtypes)["ts"] == "timestamp"
    vals = {out.collect()[0]["ts"] for out in outs}
    assert len(vals) == 1, vals


def test_orc_roundtrip(spark, tmp_path):
    """ORC scan parity (§2.1: IDFRunner.scala:102 reads ORC) — write a
    fixture-shaped frame as ORC, re-read, compare values and schema."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        read_orc,
        write_orc,
    )

    df = spark.range(50).selectExpr(
        "id", "cast(id * 0.5 as double) AS score", "concat('d', id) AS name"
    )
    out = str(tmp_path / "orc_sink")
    write_orc(df, out)
    back = read_orc(spark, out)
    # ORC reads columns back nullable — compare names and types
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_jsonl_roundtrip(spark, tmp_path):
    """JSONL scan/sink parity (training-data interchange, beyond the
    reference's source list): documents-shaped round-trip with an
    explicit DDL schema (no inference pass), gzip sink variant, and the
    PERMISSIVE corrupt-line contract (a bad row loads as NULLs +
    _corrupt_record instead of failing the read)."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        read_jsonl,
        write_jsonl,
    )

    ddl = "doc_id long, text string, lang string"
    df = spark.range(40).selectExpr(
        "id AS doc_id", "concat('tok', id, ' tail') AS text", "'en' AS lang"
    )
    out = str(tmp_path / "jsonl_sink")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, schema=ddl)
    assert dict(back.dtypes) == {"doc_id": "bigint", "text": "string", "lang": "string"}
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # gzip sink round-trips through the codec chain
    gz = str(tmp_path / "jsonl_gz")
    write_jsonl(df, gz, compression="gzip")
    import os

    assert any(f.endswith(".json.gz") for f in os.listdir(gz))
    assert read_jsonl(spark, gz, schema=ddl).count() == 40

    # corrupt line: loads as NULLs + _corrupt_record, never fails the job
    raw = str(tmp_path / "raw")
    os.makedirs(raw)
    with open(os.path.join(raw, "part-0.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok", "lang": "en"}\n')
        f.write("{not json at all\n")
    rows = read_jsonl(
        spark, raw, schema=ddl + ", _corrupt_record string"
    ).collect()
    good = [r for r in rows if r["doc_id"] == 1]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and len(bad) == 1
    assert bad[0]["doc_id"] is None


def test_sequencefile_roundtrip(spark, tmp_path):
    """SequenceFile scan/sink parity (§2.1: KMeansRunner.scala:119-124 reads
    SequenceFile; PrefixSpanRunner.scala:183-184 writes LZ4 SequenceFile):
    primitive-Writable K/V round-trips, plain and LZ4-compressed, and the
    text-encoded vector reader lands the (id → dense vector) corpus shape."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        read_sequencefile,
        read_sequencefile_vectors,
        write_sequencefile,
    )

    df = spark.range(20).selectExpr(
        "id AS key", "concat(cast(id * 1.5 as string), ',', cast(id as string)) AS value"
    )
    plain = str(tmp_path / "seq_plain")
    write_sequencefile(df, plain)
    back = read_sequencefile(spark, plain)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    lz4 = str(tmp_path / "seq_lz4")
    write_sequencefile(df, lz4, "org.apache.hadoop.io.compress.Lz4Codec")
    back_lz4 = read_sequencefile(spark, lz4)
    assert sorted(map(tuple, back_lz4.collect())) == sorted(map(tuple, df.collect()))

    vecs = {r["key"]: r["features"] for r in read_sequencefile_vectors(spark, plain).collect()}
    assert vecs[4] == [6.0, 4.0]
    assert len(vecs) == 20


def test_object_rows_roundtrip(spark, tmp_path):
    """objectFile-role parity (§2.1: ALSRunner.scala:125 reloads serialized
    rating RDDs): prepared rows dump once and reload typed via the
    pickle-SequenceFile path."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        read_object_rows,
        write_object_rows,
    )

    df = spark.range(30).selectExpr(
        "cast(id as int) AS user",
        "cast(id % 7 as int) AS item",
        "cast(id as double) / 3 AS rating",
    )
    out = str(tmp_path / "obj_rows")
    write_object_rows(df, out)
    back = read_object_rows(spark, out, "user int, item int, rating double")
    # createDataFrame lands nullable columns — compare names and types
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_save_as_table_and_insert_into(spark, tmp_path):
    """Hive-table sink parity (PageRankHiveRunner.scala:60-66): saveAsTable
    creates a catalog table, insertInto appends, the catalog scan sees
    both batches."""
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import (
        insert_into_table,
        save_as_table,
    )

    name = "pr_sink_test"
    df1 = spark.range(10).selectExpr("id AS v", "cast(id as double) / 10 AS pr")
    df2 = spark.range(10, 15).selectExpr("id AS v", "cast(id as double) / 10 AS pr")
    save_as_table(df1, name)
    try:
        insert_into_table(df2, name)
        got = spark.table(name)
        assert got.count() == 15
        assert {r["v"] for r in got.collect()} == set(range(15))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """A second ``load_table`` of the same file runs no Spark job and
    returns the identical schema and rows; a rewritten file (new mtime or
    size) is inferred again and its new schema is returned."""
    import os
    import shutil

    from spark_ml_algo_lib_master_tongji_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE, spark_jobs

    f = tmp_path / "nation.parquet"
    shutil.copy(f"{SF_SMOKE}/nation.parquet", f)
    first, jobs = spark_jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 1, jobs  # the schema-inference job
    second, jobs = spark_jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 0, jobs
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == sorted(map(tuple, first.collect()))

    st = f.stat()
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # same bytes
    _, jobs = spark_jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 1, jobs

    spark.range(3).selectExpr("id AS n_nationkey", "'x' AS extra").write.mode(
        "overwrite"
    ).parquet(str(f) + ".new")
    os.remove(f)
    shutil.move(str(f) + ".new", f)  # the table is now a directory
    third, jobs = spark_jobs(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs == 1, jobs
    assert third.columns == ["n_nationkey", "extra"]
    assert sorted(r["n_nationkey"] for r in third.collect()) == [0, 1, 2]
