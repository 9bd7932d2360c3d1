"""Source/sink surface (SURVEY.md §2B rows Scans + Sinks) and the
bucketing scale path.

The reference's sink guarantees — partitioned output files, atomic
tmp+rename commit (mr/coordinator.go:37-53) — map to Spark's
FileOutputCommitter; asserted here via the _SUCCESS marker and
absence of _temporary debris. Bucketing is the piece the reference
cannot express at all: pre-shuffled storage so repeated joins on the
bucket key need no Exchange.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tda596_lab02mapreduce_spark import io, plans, sources


def test_parquet_roundtrip_partitioned_and_pruned(spark, sf_smoke, tmp_path):
    orders = io.load(spark, sf_smoke, "orders")
    path = str(tmp_path / "orders_by_status")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    # committer finished atomically: marker present, no _temporary debris
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "_temporary"))
    # hive-style partition dirs
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(path))

    back = spark.read.parquet(path)
    assert back.count() == orders.count()

    # partition pruning: filtering on the partition column must prune at
    # the scan, not post-filter
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = plans.formatted_plan(pruned)
    assert "PartitionFilters" in plan
    want = pruned.count()
    oracle = orders.filter(F.col("o_orderstatus") == "F").count()
    assert want == oracle


def test_csv_roundtrip_with_schema(spark, sf_smoke, tmp_path):
    nation = io.load(spark, sf_smoke, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    back = sources.read_csv(
        spark, path, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert sorted(back.columns) == sorted(nation.columns)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def test_json_roundtrip(spark, sf_smoke, tmp_path):
    region = io.load(spark, sf_smoke, "region")
    path = str(tmp_path / "region_json")
    region.write.mode("overwrite").json(path)
    back = sources.read_json(spark, path, schema="r_regionkey int, r_name string")
    assert {tuple(r) for r in back.select("r_regionkey", "r_name").collect()} == {
        tuple(r) for r in region.collect()
    }


def test_whole_file_scan_contract(spark, tmp_path):
    """read_whole_files must reproduce the reference's exact map-input
    granularity: one (filename, contents) row per file
    (mr/coordinator.go:86-97, one map task per whole file)."""
    for i, body in enumerate(["alpha beta\ngamma", "delta epsilon"]):
        (tmp_path / f"pg-{i}.txt").write_text(body)
    df = sources.read_whole_files(spark, str(tmp_path / "pg-*.txt"))
    rows = {
        (os.path.basename(r.filename.replace("file://", "")), r.contents)
        for r in df.collect()
    }
    assert rows == {("pg-0.txt", "alpha beta\ngamma"), ("pg-1.txt", "delta epsilon")}


def test_text_lines_splittable(spark, tmp_path):
    (tmp_path / "a.txt").write_text("l1\nl2\nl3")
    df = sources.read_text_lines(spark, str(tmp_path / "a.txt"))
    assert [r.line for r in df.orderBy("line").collect()] == ["l1", "l2", "l3"]


@pytest.fixture()
def bucketed_tables(spark, sf_smoke, tmp_path):
    names = ["t_orders_b", "t_lineitem_b"]
    orders = io.load(spark, sf_smoke, "orders")
    li = io.load(spark, sf_smoke, "lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "ob"))
        .saveAsTable(names[0])
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "lb"))
        .saveAsTable(names[1])
    )
    yield names
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_bucketed_join_needs_no_shuffle(spark, bucketed_tables):
    """Both sides bucketed+sorted on the join key into the same bucket
    count: the sort-merge join consumes storage layout directly — zero
    Exchange in the plan. At 100 TB this is THE repeated-join strategy
    (pay the shuffle once at write time, never again)."""
    ob, lb = bucketed_tables
    # at sf0.001 both sides fit the broadcast threshold, which would
    # sidestep the layout under test; at real scale neither side
    # broadcasts and the bucketed sort-merge path is what runs
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table(ob)
            .join(spark.table(lb), F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = plans.executed_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, (
        f"expected a sort-merge join over bucketed tables:\n{plan[:1500]}"
    )
    # the join inputs must come straight from storage: no Exchange may
    # hash-partition on the join keys (the later groupBy legitimately
    # shuffles on o_orderpriority)
    for key in ("o_orderkey", "l_orderkey"):
        assert f"Exchange hashpartitioning({key}" not in plan, (
            "bucketed join still shuffled:\n" + plan[:2000]
        )
    # correctness unchanged
    assert joined.count() > 0


def test_bucketed_revenue_tables_live_in_sink_scratch(spark, sf_smoke):
    """join_bucketed_revenue saves its two bucketed tables as EXTERNAL
    tables under the per-process sink scratch (removed at exit), so no
    managed-table dir is left behind in the warehouse."""
    from urllib.parse import urlparse

    from tda596_lab02mapreduce_spark.queries import sinks
    from tda596_lab02mapreduce_spark.registry import get

    names = ("orders_bucketed_sf0_001", "lineitem_bucketed_sf0_001")
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def listing() -> list[str]:
        return sorted(os.listdir(warehouse)) if os.path.isdir(warehouse) else []

    before = listing()
    assert get("join_bucketed_revenue").spark_fn(spark, sf_smoke).count() > 0
    for name in names:
        assert spark.catalog.getTable(name).tableType == "EXTERNAL"
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        location = next(r.data_type for r in rows if r.col_name == "Location")
        assert urlparse(location).path.startswith(sinks._SCRATCH + os.sep), location
    assert listing() == before


def test_compact_parquet_merges_small_files(spark, sf_smoke, tmp_path):
    import glob

    docs = io.load(spark, sf_smoke, "documents")
    fragmented = str(tmp_path / "fragmented")
    compacted = str(tmp_path / "compacted")
    # simulate the ingest pathology: one file per ~handful of rows
    docs.repartition(64).write.parquet(fragmented)
    n_small = len(glob.glob(f"{fragmented}/part-*"))
    assert n_small == 64

    n_files = sources.compact_parquet(
        spark, fragmented, compacted, target_rows_per_file=300
    )
    n_big = len(glob.glob(f"{compacted}/part-*"))
    assert n_big == n_files < n_small
    assert os.path.exists(os.path.join(compacted, "_SUCCESS"))

    # lossless: same multiset of rows
    before = sorted(tuple(r) for r in docs.collect())
    after = sorted(tuple(r) for r in spark.read.parquet(compacted).collect())
    assert before == after


def test_schema_evolution_merge_read(spark, sf_smoke, tmp_path):
    """Schema drift across ingest generations — the 100 TB reality
    that columns get ADDED over time. Old files (no `quality_score`)
    and new files (with it) must read back as ONE table under
    mergeSchema, nulls filling the missing column, no rewrite of old
    data."""
    docs = io.load(spark, sf_smoke, "documents")
    path = str(tmp_path / "evolving")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(path)
    docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality_score", (F.col("n_chars") % 100).cast("double")
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "quality_score" in merged.columns
    assert merged.count() == docs.count()
    old_rows = merged.filter(F.col("doc_id") % 2 == 0)
    assert old_rows.count() == old_rows.filter(F.col("quality_score").isNull()).count()
    new_null = merged.filter(
        (F.col("doc_id") % 2 == 1) & F.col("quality_score").isNull()
    ).count()
    assert new_null == 0


def test_compact_parquet_refuses_in_place(spark, sf_smoke, tmp_path):
    """overwrite-mode deletes the destination before the lazy source
    scan runs, so an in-place compaction would destroy the data — the
    operator must refuse dst == src outright (review finding)."""
    d = str(tmp_path / "d")
    io.load(spark, sf_smoke, "region").write.parquet(d)
    with pytest.raises(ValueError, match="must differ"):
        sources.compact_parquet(spark, d, d)
    # and the data is untouched
    assert spark.read.parquet(d).count() == 5


def test_python_wholefile_source_partition_per_file(spark, tmp_path):
    """The pluggable Python DataSource schedules exactly one task per
    input file — the reference's nMap = len(files) model
    (mr/coordinator.go:190,196-205) — and returns each file whole."""
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_wholefile_source,
    )

    for i in range(5):
        (tmp_path / f"in{i}.txt").write_text(f"alpha beta{i} gamma\nline two {i}")
    (tmp_path / "_SUCCESS").write_text("")  # marker files must be skipped
    register_wholefile_source(spark)
    df = (
        spark.read.format("wholefile_text")
        .option("glob", str(tmp_path / "*"))
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = {r.path: r.content for r in df.collect()}
    assert set(rows) == {f"in{i}.txt" for i in range(5)}
    assert rows["in3.txt"] == "alpha beta3 gamma\nline two 3"


def test_python_wholefile_source_requires_glob(spark):
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_wholefile_source,
    )

    register_wholefile_source(spark)
    with pytest.raises(Exception, match="glob"):
        spark.read.format("wholefile_text").load().collect()


def test_python_textkv_sink_atomic_commit(spark, tmp_path):
    """A10+A11 parity on the DataSourceWriter protocol: exactly
    nReduce committed mr-out-<p> files, no temp debris, content
    re-parseable (mr/worker.go:136-157, mr/coordinator.go:37-53)."""
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_textkv_sink,
    )

    register_textkv_sink(spark)
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "k string, v long"
    )
    df.repartition(3, "k").write.format("textkv_sink").option("path", out).mode(
        "append"
    ).save()
    names = sorted(os.listdir(out))
    assert names == ["mr-out-0", "mr-out-1", "mr-out-2"]
    lines = sorted(
        ln
        for n in names
        for ln in open(os.path.join(out, n)).read().splitlines()
    )
    assert lines == ["a 1", "b 2", "c 3", "d 4"]


def test_python_textkv_sink_abort_leaves_no_output(spark, tmp_path):
    """A failing job must commit NOTHING — the atomicity the reference
    gets from tmp naming + stale-owner rejection (mr/coordinator.go:35)."""
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_textkv_sink,
    )

    register_textkv_sink(spark)
    out = str(tmp_path / "out")
    df = spark.createDataFrame([("a", 1), ("b", 0)], "k string, v long").select(
        "k", (F.lit(10) / F.col("v")).cast("long").alias("v")
    )
    boom = df.select("k", F.when(F.col("v").isNull(), F.raise_error("boom")).otherwise(F.col("v")).alias("v"))
    with pytest.raises(Exception):
        boom.write.format("textkv_sink").option("path", out).mode("append").save()
    committed = [f for f in os.listdir(out)] if os.path.exists(out) else []
    assert not [f for f in committed if f.startswith("mr-out-")], committed


def test_zorder_layout_concentrates_2d_probe(spark, sf_smoke, tmp_path):
    """The z-ordered rewrite must confine a 2-D predicate's matching
    rows to a strict subset of files, while a round-robin layout
    scatters them — the locality that lets parquet min/max stats skip
    files/row-groups at scale."""
    from tda596_lab02mapreduce_spark.queries.sinks import _zvalue

    li = io.load(spark, sf_smoke, "lineitem")
    # sf0.001 key ranges: l_partkey 0-199, l_suppkey 0-9 — probe a box
    # that matches a small nonzero slice at smoke scale
    pred = F.col("l_partkey").between(50, 90) & F.col("l_suppkey").between(2, 4)

    zpath = str(tmp_path / "z")
    (
        li.withColumn("__z", _zvalue(F.col("l_partkey"), F.col("l_suppkey")))
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.parquet(zpath)
    )
    rpath = str(tmp_path / "rr")
    li.repartition(16).write.parquet(rpath)

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    z_files, rr_files = files_touched(zpath), files_touched(rpath)
    assert z_files < rr_files, (z_files, rr_files)
    # sanity: the rewrite lost nothing
    assert spark.read.parquet(zpath).count() == li.count()


def test_python_stream_source_checkpoint_resume(spark, tmp_path):
    """Resumability contract of the Python streaming source: a second
    run over the SAME checkpoint starts from the committed offset and
    re-serves nothing — restart-safety the reference engine gets from
    its done-task bookkeeping (mr/coordinator.go:54-57)."""
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        register_wholefile_stream,
    )

    for i in range(3):
        (tmp_path / f"in{i}.txt").write_text(f"w{i} common")
    register_wholefile_stream(spark)
    ck = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        st = (
            spark.readStream.format("wholefile_stream")
            .option("glob", str(tmp_path / "in*.txt"))
            .load()
        )
        q = (
            st.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    first = drain()
    assert first == 3
    second = drain()  # same checkpoint: offset already at end
    assert second == 3, "restart re-served already-committed files"


def test_python_stream_offset_resumes_by_name_on_changed_listing(tmp_path):
    """Offset robustness (advisory finding): a checkpointed (index,
    last-name) offset replayed against a listing that CHANGED across
    the restart must resume after the named file — not at the stale
    position. Unit-level: drive the reader's offset resolution
    directly."""
    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        WholeFileStreamReader,
    )

    for name in ("b.txt", "c.txt", "e.txt"):
        (tmp_path / name).write_text("x")
    r = WholeFileStreamReader({"glob": str(tmp_path / "*.txt")})
    # served through c.txt in a previous incarnation (index 2 of b,c,e)
    off = {"index": 2, "last": str(tmp_path / "c.txt")}

    # unchanged listing: positional fast path
    assert r._resolve(off) == 2
    # a new file now sorts BEFORE the committed prefix: by-position
    # would re-serve c.txt and skip a.txt's slot; by-name resumes
    # after c.txt exactly (a.txt missed historically, d/e unserved)
    (tmp_path / "a.txt").write_text("x")
    (tmp_path / "d.txt").write_text("x")
    r2 = WholeFileStreamReader({"glob": str(tmp_path / "*.txt")})
    i = r2._resolve(off)
    assert r2._files[i:] == [str(tmp_path / "d.txt"), str(tmp_path / "e.txt")]
    # committed file deleted: resume lands on the first file sorting
    # after the deleted name
    (tmp_path / "c.txt").unlink()
    r3 = WholeFileStreamReader({"glob": str(tmp_path / "*.txt")})
    assert r3._files[r3._resolve(off):] == [
        str(tmp_path / "d.txt"), str(tmp_path / "e.txt")
    ]
    # pre-name-format checkpoint ({"index": N}): positional, clamped
    assert r3._resolve({"index": 99}) == len(r3._files)
    assert r3._resolve({"index": 0}) == 0


def test_versioned_manifest_protocol(spark, sf_smoke, tmp_path):
    """The versioned layout's commit contract: a reader pinned to v1
    sees identical data before and after the v2 commit; the manifest
    always names the newest version as current; an unknown version is
    refused; a stale .tmp staging dir (simulated crash) is invisible
    to readers and cleaned by the next commit of that version."""
    import os

    from tda596_lab02mapreduce_spark import io
    from tda596_lab02mapreduce_spark.sources import versioned

    base = str(tmp_path / "vt")
    nation = io.load(spark, sf_smoke, "nation").select("n_nationkey", "n_name")
    versioned.write_version(nation, base, 1)
    v1_before = sorted(tuple(r) for r in versioned.read_version(spark, base, 1).collect())

    # simulated crashed writer: stale tmp dir for v2
    os.makedirs(os.path.join(base, ".v=2.tmp"), exist_ok=True)
    assert versioned.read_manifest(base)["current"] == 1

    v2 = nation.filter("n_nationkey % 2 = 0")
    versioned.write_version(v2, base, 2)
    m = versioned.read_manifest(base)
    assert m == {"current": 2, "versions": [1, 2]}
    assert not os.path.exists(os.path.join(base, ".v=2.tmp"))

    v1_after = sorted(tuple(r) for r in versioned.read_version(spark, base, 1).collect())
    assert v1_after == v1_before, "v1 snapshot mutated by the v2 commit"
    assert versioned.read_version(spark, base).count() == v2.count()

    import pytest

    with pytest.raises(ValueError):
        versioned.read_version(spark, base, version=99)

    # immutability on re-commit: committing version 1 AGAIN raises
    # unless declared idempotent; with allow_existing=True the FIRST
    # snapshot is kept (and there is never a window with no v=1 dir)
    with pytest.raises(FileExistsError):
        versioned.write_version(nation.limit(1), base, 1)
    versioned.write_version(nation.limit(1), base, 1, allow_existing=True)
    assert (
        sorted(tuple(r) for r in versioned.read_version(spark, base, 1).collect())
        == v1_before
    )


def test_versioned_concurrent_writers_lose_no_version(spark, tmp_path):
    """VERDICT r7 item 9: N writers committing DISTINCT versions
    concurrently must all survive into the manifest — the flock-
    serialized, directory-derived publish turns the read-modify-write
    race (which silently dropped the earlier writer's version) into a
    convergent merge.  Threads exercise the real contention path:
    flock is per-open-fd, so same-process writers contend like
    separate processes would on a shared filesystem."""
    import threading

    from tda596_lab02mapreduce_spark.sources import versioned

    base = str(tmp_path / "vt")
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    errors: list[Exception] = []

    def commit(v: int) -> None:
        try:
            versioned.write_version(df, base, v)
        except Exception as e:  # surfaced below — a swallow would pass vacuously
            errors.append(e)

    threads = [threading.Thread(target=commit, args=(v,)) for v in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    m = versioned.read_manifest(base)
    assert m == {"current": 6, "versions": [1, 2, 3, 4, 5, 6]}
    for v in range(1, 7):
        assert versioned.read_version(spark, base, v).count() == 1


def test_zstd_sink_files_really_use_zstd(spark, sf_correctness):
    """The codec-explicit sink must produce zstd-compressed column
    chunks — not silently fall back to the session default (snappy)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from tda596_lab02mapreduce_spark.registry import get

    from tda596_lab02mapreduce_spark.queries.sinks import _sink_path

    get("sink_codec_zstd_roundtrip").spark_fn(spark, sf_correctness).collect()
    root = _sink_path(sf_correctness, "supplier_zstd")
    files = glob.glob(os.path.join(root, "*.parquet"))
    assert files
    meta = pq.ParquetFile(files[0]).metadata
    codecs = {
        meta.row_group(rg).column(c).compression
        for rg in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    }
    assert codecs == {"ZSTD"}, codecs


def test_vacuum_versions_idempotent_and_keeps_current(spark, tmp_path):
    """vacuum keeps exactly keep_last newest versions (current always
    among them), is idempotent, and a vacuumed version is rejected by
    read_version rather than half-readable."""
    import pytest as _pytest

    from tda596_lab02mapreduce_spark.sources import versioned

    base = str(tmp_path / "vac")
    df = spark.range(10)
    for v in (1, 2, 3):
        versioned.write_version(df.filter(df.id % (v + 1) != 0), base, v)
    assert versioned.vacuum_versions(base, keep_last=1) == [1, 2]
    m = versioned.read_manifest(base)
    assert m == {"current": 3, "versions": [3]}
    assert versioned.vacuum_versions(base, keep_last=1) == []  # idempotent
    with _pytest.raises(ValueError):
        versioned.read_version(spark, base, version=1)
    assert versioned.read_version(spark, base).count() == df.filter(df.id % 4 != 0).count()


def test_stream_kv_sink_commit_is_idempotent(tmp_path):
    """A replayed micro-batch commit (same batchId) must keep the
    FIRST committed files and discard the replay's temp files — the
    crash-between-sink-commit-and-offset-commit case."""
    import os

    from tda596_lab02mapreduce_spark.sources.pydatasource import (
        KVTextStreamSinkWriter,
        _KVCommitMessage,
        committed_stream_batches,
    )

    base = str(tmp_path / "kvstream")
    os.makedirs(base)
    w = KVTextStreamSinkWriter(base)

    def stage(content: str) -> _KVCommitMessage:
        tmp = os.path.join(base, f"tmp-stream-test-{content}")
        with open(tmp, "w") as fh:
            fh.write(f"{content} 1\n")
        return _KVCommitMessage(tmp_path=tmp, final_name="mr-out-0")

    w.commit([stage("first")], batchId=7)
    bdir = os.path.join(base, "batch=7")
    assert os.path.exists(os.path.join(bdir, "_SUCCESS"))
    # replay with DIFFERENT content: first commit must win, replay tmp gone
    replay = stage("replayed")
    w.commit([replay], batchId=7)
    assert not os.path.exists(replay.tmp_path)
    with open(os.path.join(bdir, "mr-out-0")) as fh:
        assert fh.read() == "first 1\n"
    # a torn directory (no marker) is invisible to the reader contract
    os.makedirs(os.path.join(base, "batch=9"))
    assert committed_stream_batches(base) == [bdir]


def test_avro_roundtrip_env_gated(spark, sf_smoke):
    """Avro is the one mainstream format this container cannot run
    (spark-avro is an external module and there is no network): the
    gate must be LOUD when absent, and the round-trip must be real
    when the connector is deployed (VERDICT r8 next-round #7)."""
    from tda596_lab02mapreduce_spark.queries.sinks import avro_roundtrip

    if not sources.avro_available(spark):
        with pytest.raises(NotImplementedError, match="spark-avro"):
            avro_roundtrip(spark, sf_smoke)
        pytest.skip("spark-avro connector jar not on the classpath")
    out = avro_roundtrip(spark, sf_smoke)
    direct = (
        io.load(spark, sf_smoke, "part")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, direct.collect())
    )
