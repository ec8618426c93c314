"""Spark pipeline end-to-end tests: extraction, reassembly, match rate,
lineage/resume."""

import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pytest

from pdf2gtfs_spark.plans.pipeline import (
    EXTRACT_SCHEMA_CSV, _drop_zip_finders, cells_table, entries_table,
    make_extract_kernel, match_rate, reassemble_conversations, run_extract,
    stops_table, turn_csvs,
)
from pdf2gtfs_spark.plans import lineage
from pdf2gtfs_spark.plans.lineage import (
    LINEAGE_COLUMNS, bucket_col, committed_buckets, output_dir,
    run_with_checkpoint,
)
from pdf2gtfs_spark.sources.transcripts import (
    generate_transcripts, synth_turn_payload,
)


@pytest.fixture(scope="module")
def small_input(spark):
    transcripts, expected = generate_transcripts(
        n_convs=6, base_turns=2, skew_every=5, skew_factor=4)
    tdf = spark.createDataFrame(transcripts)
    edf = spark.createDataFrame(expected)
    return transcripts, expected, tdf, edf


@pytest.fixture(scope="module")
def extracted(spark, small_input):
    _, _, tdf, _ = small_input
    df = run_extract(tdf, num_partitions=8)
    df.cache()
    df.count()
    return df


class TestExtractPipeline:
    def test_every_turn_covered(self, extracted, small_input):
        transcripts, *_ = small_input
        per_turn = turn_csvs(extracted)
        assert per_turn.count() == len(transcripts)

    def test_match_rate_is_one(self, spark, extracted, small_input):
        _, _, _, edf = small_input
        per_turn, rate = match_rate(extracted, edf)
        r = rate.collect()[0]["match_rate"]
        assert r == 1.0, per_turn.where("NOT match").select(
            "conv_id", "turn_idx").head(5)

    def test_cells_grid_dense_coords(self, extracted):
        cells = cells_table(extracted)
        row = cells.limit(1).collect()[0]
        assert row["row_idx"] >= 0 and row["col_idx"] >= 0
        assert row["x1"] > row["x0"]

    def test_entries_days_mapping(self, spark, extracted):
        from pyspark.sql import functions as F
        e = entries_table(extracted)
        days = (e.where(F.lower("header_text") == "montag - freitag")
                .select("days").limit(1).collect())
        if days:
            assert days[0]["days"] == ["0", "1", "2", "3", "4"]

    def test_stops_have_names(self, extracted):
        s = stops_table(extracted)
        assert s.where("stop_name = '' OR stop_name IS NULL").count() == 0

    def test_reassembly_order(self, spark, extracted, small_input):
        _, expected, _, _ = small_input
        docs = {r["conv_id"]: r for r in
                reassemble_conversations(extracted).collect()}
        per_turn = turn_csvs(extracted).toPandas()
        assert sorted(docs) == sorted(expected["conv_id"].unique())
        for cid, doc in docs.items():
            turns = per_turn[per_turn["conv_id"] == cid] \
                .sort_values("turn_idx")
            exp = expected[expected["conv_id"] == cid]
            assert doc["n_turns"] == len(turns) == len(exp), cid
            assert doc["n_tables"] == turns["n_tables"].sum(), cid
            # the document is the turn-ordered concatenation
            assert doc["conversation_doc"] == "\n\x1e\n".join(
                turns["extracted_csvs"]), cid
            assert doc["conversation_doc"] == "\n\x1e\n".join(
                exp.sort_values("turn_idx")["expected_csvs"]), cid


class TestReassemblyContract:
    def test_edge_cases(self, spark):
        """Table order within a turn is (table_id, csv_text), not text
        order; a table-less turn keeps its separator and counts as a
        turn; a table-less copy of a turn adds no separator; a NULL
        turn_idx is a turn of its own and sorts first; a NULL conv_id
        is a conversation of its own."""
        rows = [("d", 1, 0, "x\n"), ("c", 2, 0, "c,3\n"),
                ("c", 0, 1, "a,2\n"), ("d", 1, None, None),
                (None, None, 0, "z\n"), ("c", 1, None, None),
                ("d", 0, 0, "n\n"), ("c", 0, 0, "b,1\n"),
                ("d", 1, 0, "w\n"), ("e", 1, 0, "q\n"),
                ("e", None, 0, "p\n")]
        df = spark.createDataFrame([(*r, 1, 1, False) for r in rows],
                                   EXTRACT_SCHEMA_CSV)
        docs = reassemble_conversations(df)
        assert docs.schema.simpleString() == (
            "struct<conv_id:string,conversation_doc:string,"
            "n_turns:bigint,n_tables:bigint>")
        assert sorted(map(tuple, docs.collect()), key=str) == [
            ("c", "b,1\n\x1da,2\n\n\x1e\n\n\x1e\nc,3\n", 3, 3),
            ("d", "n\n\n\x1e\nw\n\x1dx\n", 2, 3),
            ("e", "p\n\n\x1e\nq\n", 2, 2),
            (None, "z\n", 1, 1),
        ]


def _zip_finders():
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


@pytest.fixture
def zip_package(tmp_path):
    """A zip holding package ``zpkg`` (modules ``a`` and ``b``) on
    ``sys.path``; ``sys.path`` and ``sys.modules`` are restored after."""
    path = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "A = 1\n")
        z.writestr("zpkg/b.py", "B = 2\n")
    saved_path, saved_modules = list(sys.path), dict(sys.modules)
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        for p in _zip_finders():
            if p.startswith(path):
                del sys.path_importer_cache[p]


class TestZipFinderDrop:
    def test_drop_keeps_zip_importable(self, zip_package):
        a = importlib.import_module("zpkg.a")
        assert a.__file__.startswith(zip_package)
        assert zip_package in _zip_finders()
        _drop_zip_finders()
        assert _zip_finders() == []
        b = importlib.import_module("zpkg.b")
        assert (a.A, b.B) == (1, 2)
        assert b.__file__.startswith(zip_package)

    @pytest.mark.parametrize("close_early", [False, True])
    def test_kernel_drops_finders_when_partition_ends(
            self, spark, tmp_path, close_early):
        path = str(tmp_path / "empty.zip")
        zipfile.ZipFile(path, "w").close()
        sys.path_importer_cache[path] = zipimport.zipimporter(path)
        batch = pa.RecordBatch.from_pydict({
            "conv_id": ["c"], "turn_idx": [0],
            "text": [synth_turn_payload("c", 0)[0]]})
        # the output schema is parsed on the driver: needs a session
        out = make_extract_kernel(emit="csv")(iter([batch]))
        try:
            if close_early:
                assert len(next(out)) == 1
                assert path in sys.path_importer_cache
                out.close()
            else:
                assert [len(f) for f in out] == [1]
            assert path not in sys.path_importer_cache
        finally:
            sys.path_importer_cache.pop(path, None)


class TestLineageResume:
    def test_resume_skips_committed(self, spark, small_input, tmp_path):
        _, _, tdf, _ = small_input
        out = str(tmp_path / "out")
        sc = spark.sparkContext
        sc.setJobDescription(None)
        # simulated kill: only the first commit group runs
        first = run_with_checkpoint(
            spark, tdf, out, run_id="r1", input_snapshot_id="s1",
            n_buckets=4, group_size=2, max_groups=1)
        assert len(first) == 2
        # the per-group job descriptions do not leak to the caller
        assert sc.getLocalProperty("spark.job.description") is None
        assert committed_buckets(spark, f"{out}/lineage", "s1") == set(first)
        # resume: processes only the remaining buckets
        second = run_with_checkpoint(
            spark, tdf, out, run_id="r2", input_snapshot_id="s1",
            n_buckets=4, group_size=2)
        assert sorted(first + second) == [0, 1, 2, 3]
        assert set(first).isdisjoint(second)
        # output complete and duplicate-free
        got = spark.read.parquet(f"{out}/tables")
        n_turns = tdf.count()
        assert got.select("conv_id", "turn_idx", "table_id").distinct() \
                  .count() == got.count()
        assert (got.select("conv_id", "turn_idx").distinct().count()
                == n_turns)
        # third run: nothing pending
        third = run_with_checkpoint(
            spark, tdf, out, run_id="r3", input_snapshot_id="s1",
            n_buckets=4, group_size=2)
        assert third == []

    def test_new_snapshot_reprocesses_all(self, spark, small_input,
                                          tmp_path):
        _, _, tdf, _ = small_input
        out = str(tmp_path / "out")

        def run(snapshot):
            return run_with_checkpoint(
                spark, tdf, out, run_id="r", input_snapshot_id=snapshot,
                n_buckets=4, group_size=4)

        assert run("s1") == [0, 1, 2, 3]
        assert run("s1") == []
        # buckets committed from s1 do not count for s2
        assert committed_buckets(spark, f"{out}/lineage", "s2") == set()
        assert run("s2") == [0, 1, 2, 3]
        assert run("s2") == []
        got = spark.read.parquet(f"{out}/tables")
        assert got.select("conv_id", "turn_idx", "table_id").distinct() \
                  .count() == got.count()

    def test_one_lineage_file_per_group(self, spark, tmp_path):
        tdf = spark.createDataFrame(_small_transcripts(3))
        out = str(tmp_path / "out")
        done = run_with_checkpoint(spark, tdf, out, run_id="r",
                                   input_snapshot_id="s", n_buckets=6,
                                   group_size=2)
        assert done == list(range(6))
        # three commit groups of two lineage rows each
        assert len(list(Path(out, "lineage").glob("*.parquet"))) == 3
        assert committed_buckets(spark, f"{out}/lineage", "s") == set(done)

    def test_commit_leaves_whole_files_of_the_declared_schema(
            self, spark, tmp_path):
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType
        import pyarrow.parquet as pq

        tdf = spark.createDataFrame(_small_transcripts(3))
        out = tmp_path / "out"
        run_with_checkpoint(spark, tdf, str(out), run_id="r",
                            input_snapshot_id="s", n_buckets=6,
                            group_size=2)
        names = sorted(p.name for p in (out / "lineage").iterdir())
        # no temp file (or its checksum) outlives its rename
        assert not [n for n in names if ".tmp" in n], names
        declared = StructType.fromDDL(LINEAGE_COLUMNS)
        files = [out / "lineage" / n for n in names
                 if not n.startswith(("_", "."))]
        assert len(files) == 3
        for f in files:
            assert pq.read_schema(f).equals(to_arrow_schema(declared))
            assert spark.read.parquet(str(f)).schema == declared
            assert spark.read.schema(LINEAGE_COLUMNS).parquet(str(f)) \
                .count() == 2
        assert spark.read.parquet(str(out / "lineage")).schema == declared

    def test_resume_reads_lineage_without_a_spark_job(self, spark,
                                                      tmp_path):
        tdf = spark.createDataFrame(_small_transcripts(3))
        out = str(tmp_path / "out")
        args = dict(run_id="r", input_snapshot_id="s", n_buckets=4,
                    group_size=2)
        run_with_checkpoint(spark, tdf, out, **args)
        sc = spark.sparkContext
        sc.setJobGroup("lineage-read", "resume")
        try:
            assert committed_buckets(spark, f"{out}/lineage", "s") \
                == {0, 1, 2, 3}
            # nothing pending: the resume ends without running a job
            assert run_with_checkpoint(spark, tdf, out, **args) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        assert sc.statusTracker().getJobIdsForGroup("lineage-read") == []

    def test_reads_lineage_that_spark_wrote(self, spark, small_input,
                                            tmp_path):
        from pdf2gtfs_spark.sources import literal_frame

        _, _, tdf, _ = small_input
        out = tmp_path / "out"
        # the earlier layout: Spark appends, one file per commit group,
        # with _SUCCESS and .crc files beside the snappy parquet parts
        for rows in ([("r0", "s", 0, 1, 1, 0, 0.0, 1.0),
                      ("r0", "s", 1, 2, 2, 0, 0.0, 1.0)],
                     [("r0", "old", 2, 3, 3, 0, 0.0, 1.0)]):
            literal_frame(spark, rows, LINEAGE_COLUMNS).coalesce(1) \
                .write.mode("append").parquet(str(out / "lineage"))
        names = [p.name for p in (out / "lineage").iterdir()]
        assert "_SUCCESS" in names
        assert any(n.endswith(".snappy.parquet.crc") for n in names)
        assert committed_buckets(spark, str(out / "lineage"), "s") == {0, 1}
        # a resume appends the driver's files next to Spark's
        assert run_with_checkpoint(
            spark, tdf, str(out), run_id="r1", input_snapshot_id="s",
            n_buckets=4, group_size=4) == [2, 3]
        assert committed_buckets(spark, str(out / "lineage"), "s") \
            == {0, 1, 2, 3}
        got = spark.read.schema(LINEAGE_COLUMNS).parquet(str(out / "lineage"))
        assert sorted((r["input_snapshot_id"], r["bucket"])
                      for r in got.collect()) == [
            ("old", 2), ("s", 0), ("s", 1), ("s", 2), ("s", 3)]

    def test_file_uri_output_resumes(self, spark, small_input, tmp_path):
        _, _, tdf, _ = small_input
        out = (tmp_path / "out").as_uri()
        assert out.startswith("file:///")
        args = dict(input_snapshot_id="s", n_buckets=4, group_size=2)
        first = run_with_checkpoint(spark, tdf, out, run_id="r1",
                                    max_groups=1, **args)
        assert committed_buckets(spark, f"{out}/lineage", "s") == set(first)
        rest = run_with_checkpoint(spark, tdf, out, run_id="r2", **args)
        assert sorted(first + rest) == [0, 1, 2, 3]
        assert set(first).isdisjoint(rest)
        lin = spark.read.schema(LINEAGE_COLUMNS).parquet(
            f"{out}/lineage").collect()
        assert sorted(r["bucket"] for r in lin) == [0, 1, 2, 3]
        assert sum(r["input_rows"] for r in lin) == tdf.count()

    def test_uri_output_keeps_its_authority(self, spark, monkeypatch):
        seen = []

        def all_committed(spark, lineage_dir, input_snapshot_id):
            seen.append(lineage_dir)
            return set(range(4))

        monkeypatch.setattr(lineage, "committed_buckets", all_committed)
        assert run_with_checkpoint(spark, None, "hdfs://nn:8020/out",
                                   run_id="r", input_snapshot_id="s",
                                   n_buckets=4) == []
        assert seen == ["hdfs://nn:8020/out/lineage"]
        assert output_dir("hdfs://nn:8020/out/", "tables") \
            == "hdfs://nn:8020/out/tables"


METRICS = ["input_rows", "extracted_tables", "malformed_turns"]
MALFORMED = "PAGE\tbad\t0\t600\t99\n1\t1\t6\t9\tx\n"


def _small_transcripts(n_convs, base_turns=2):
    transcripts, _ = generate_transcripts(
        n_convs=n_convs, base_turns=base_turns, skew_every=0,
        include_fixtures=False)
    return transcripts


def _rows_per_bucket(df, n_buckets):
    return {r["bucket"]: r["count"] for r in
            df.groupBy(bucket_col(n_buckets).alias("bucket")).count()
            .collect()}


class TestLineageMetrics:
    N_BUCKETS = 8

    def test_one_group_one_action(self, spark, tmp_path, set_split_bytes):
        from pyspark.sql import functions as F

        transcripts = _small_transcripts(3, base_turns=6)
        # a malformed turn and a three-table turn
        planted = transcripts.iloc[[0, 1]].assign(
            turn_idx=[99, 98],
            text=[MALFORMED, synth_turn_payload("conv_00001", 98, 3)[0]])
        # one parquet file per input row: more files than cores, and
        # more than cores in one bucket
        in_dir = str(tmp_path / "in")
        spark.createDataFrame(
            pd.concat([transcripts, planted], ignore_index=True)
        ).write.option("maxRecordsPerFile", 1).parquet(in_dir)
        tdf = spark.read.parquet(in_dir)
        cores = spark.sparkContext.defaultParallelism
        assert max(_rows_per_bucket(tdf, self.N_BUCKETS).values()) > cores
        out = str(tmp_path / "out")
        sc = spark.sparkContext
        persisted = set(sc._jsc.getPersistentRDDs().keys())
        # the split size bench.py and perfbench run with: each small
        # file is its own scan split
        set_split_bytes("4m")
        sc.setJobGroup("lineage-one-group", "caller description")
        try:
            # more buckets than conversations: the one commit group
            # holds empty buckets
            done = run_with_checkpoint(
                spark, tdf, out, run_id="r", input_snapshot_id="s",
                n_buckets=self.N_BUCKETS, group_size=self.N_BUCKETS)
            desc = sc.getLocalProperty("spark.job.description")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        assert done == list(range(self.N_BUCKETS))
        assert desc == "caller description"
        # one extract+write job; the driver commits the lineage file.
        # No cached frame left behind (the metrics come from the write)
        jobs = sc.statusTracker().getJobIdsForGroup("lineage-one-group")
        assert len(jobs) == 1, jobs
        assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
        # the small input ran as one wave of kernel tasks, each writing
        # at most one file per bucket (not one task per input file)
        for d in Path(out, "tables").glob("bucket=*"):
            assert len(list(d.glob("*.parquet"))) <= cores, d.name

        lin = {r["bucket"]: r for r in
               spark.read.parquet(f"{out}/lineage").collect()}
        assert sorted(lin) == list(range(self.N_BUCKETS))
        # the earlier groupBy definitions, recomputed from the output
        old = {r["bucket"]: r for r in
               spark.read.parquet(f"{out}/tables").groupBy("bucket").agg(
                   F.countDistinct("conv_id", "turn_idx")
                   .alias("input_rows"),
                   F.count("table_id").alias("extracted_tables"),
                   F.sum(F.col("malformed").cast("long"))
                   .alias("malformed_turns")).collect()}
        assert len(old) < self.N_BUCKETS
        for b in range(self.N_BUCKETS):
            want = [old[b][k] if b in old else 0 for k in METRICS]
            assert [lin[b][k] for k in METRICS] == want, b
        assert sum(r["malformed_turns"] for r in lin.values()) == 1
        # the three-table turn adds two tables over its one input row,
        # the malformed turn one input row without a table
        assert sum(r["extracted_tables"] - r["input_rows"]
                   for r in lin.values()) == 2 - 1
        assert {b: r["input_rows"] for b, r in lin.items()
                if r["input_rows"]} == _rows_per_bucket(tdf, self.N_BUCKETS)

    def test_input_rows_counts_every_input_row(self, spark, tmp_path):
        # a NULL conv_id turn and a duplicated (conv_id, turn_idx) turn
        # are both written, so each counts as an input row
        transcripts = _small_transcripts(2)
        rows = pd.concat([transcripts, transcripts.iloc[[0]],
                          transcripts.iloc[[1]].assign(conv_id=None)],
                         ignore_index=True)
        tdf = spark.createDataFrame(rows)
        out = str(tmp_path / "out")
        run_with_checkpoint(spark, tdf, out, run_id="r",
                            input_snapshot_id="s", n_buckets=2,
                            group_size=2)
        lin = spark.read.parquet(f"{out}/lineage").collect()
        assert {r["bucket"]: r["input_rows"] for r in lin
                if r["input_rows"]} == _rows_per_bucket(tdf, 2)
        assert sum(r["input_rows"] for r in lin) == len(rows)
        # countDistinct(conv_id, turn_idx) missed both
        got = spark.read.parquet(f"{out}/tables")
        assert got.select("conv_id", "turn_idx").distinct() \
                  .dropna().count() == len(rows) - 2


class TestRecordLayout:
    """Every shipped record carries exactly its struct's fields, in
    EXTRACT_SCHEMA order; the entries and stops frames add table_id."""

    @pytest.mark.parametrize("surface", ["legacy", "newpath"])
    def test_records_carry_exactly_the_struct_fields(self, spark, surface):
        from pyspark.sql.types import StructType

        from pdf2gtfs_spark.kernel.extract import extract_turn
        from pdf2gtfs_spark.plans.pipeline import EXTRACT_SCHEMA
        from test_output_corpus import SURFACES, corpus_payload

        structs = {f.name: f.dataType.elementType.names
                   for f in StructType.fromDDL(EXTRACT_SCHEMA).fields
                   if f.name in ("cells", "entries", "stops")}
        seen = {name: 0 for name in structs}
        for family, seed in [("v2", 0), ("v3", 1), ("v4", 2), ("v5", 3)]:
            res = extract_turn(corpus_payload(family, seed),
                               SURFACES[surface])
            for t in res.tables:
                for name, fields in structs.items():
                    for rec in getattr(t, f"{name}_records"):
                        assert list(rec) == fields, (name, list(rec))
                        seen[name] += 1
                assert list(t.cells.columns) == structs["cells"]
                for name in ("entries", "stops"):
                    assert list(getattr(t, name).columns) == [
                        "table_id", *structs[name]]
        assert all(seen.values()), seen
