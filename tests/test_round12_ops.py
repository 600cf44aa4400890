"""Round-12 additions: Delta CHECKPOINT replay with per-file-stats
data skipping, and parquet ROW-GROUP pruning driven by the
from-scratch footer decoder.

Each query gets (a) the local replica of the driver's DuckDB-oracle
check and (b) the pruning claims pinned as counts: the checkpoint is
load-bearing (pre-checkpoint JSON commits are gone), the stats skip a
strict majority of live files, and row-group pruning reads a strict
minority of groups while still matching the full scan.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from tests.oracle_utils import assert_matches_oracle


def _q(name):
    from metricproxy_spark.registry import ORACLES, QUERIES, load_all

    load_all()
    return QUERIES[name], ORACLES[name]


NEW_ORACLED = (
    "cdc_delta_checkpoint_snapshot",
    "ingest_parquet_rowgroup_prune",
    "cdc_iceberg_snapshot",
    "ingest_zstd_shards",
    "cdc_delta_deletion_vectors",
    "cdc_iceberg_positional_deletes",
    "cdc_iceberg_equality_deletes",
    "ingest_parquet_pruned_page_read",
    "cdc_delta_change_feed",
    "stream_delta_commit_pipeline",
)


class TestRound12Oracles:
    @pytest.mark.parametrize("name", NEW_ORACLED)
    def test_matches_duckdb_oracle(
        self, spark, sf_correctness_dir, name
    ):
        fn, sql = _q(name)
        assert_matches_oracle(
            fn(spark, sf_correctness_dir), sql, sf_correctness_dir
        )


class TestDeltaCheckpoint:
    def test_checkpoint_is_load_bearing(self, spark, sf_correctness_dir):
        """After log cleanup only the checkpoint + tail remain: replay
        from JSON alone is impossible, so a passing oracle proves the
        checkpoint path actually ran."""
        from metricproxy_spark.io import staged_artifact_dir

        fn, _ = _q("cdc_delta_checkpoint_snapshot")
        fn(spark, sf_correctness_dir).count()  # materialize artifact
        log_dir = os.path.join(
            staged_artifact_dir("deltacp", sf_correctness_dir),
            "_delta_log",
        )
        names = sorted(os.listdir(log_dir))
        jsons = [n for n in names if n.endswith(".json")]
        assert jsons == ["00000000000000000004.json",
                         "00000000000000000005.json"]
        assert "00000000000000000003.checkpoint.parquet" in names
        with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
            assert json.load(fh)["version"] == 3

    def test_stats_skip_majority_of_live_files(
        self, spark, sf_correctness_dir
    ):
        """Recompute the reader's reconciliation independently: 11 live
        file groups, and the event_id >= 0.7N predicate qualifies only
        the top 3 (b8, b10, b11) — the rewrites and low buckets are
        skipped without touching data."""
        from metricproxy_spark.io import load_table, staged_artifact_dir

        fn, _ = _q("cdc_delta_checkpoint_snapshot")
        fn(spark, sf_correctness_dir).count()
        root = staged_artifact_dir("deltacp", sf_correctness_dir)
        log_dir = os.path.join(root, "_delta_log")
        cp = spark.read.parquet(
            os.path.join(log_dir, "00000000000000000003.checkpoint.parquet")
        )
        adds = {
            r["add"]["path"]: json.loads(r["add"]["stats"])
            for r in cp.where("add IS NOT NULL").collect()
        }
        # tail: v4 removes data/bucket=1 + adds compact-00001; v5
        # removes data/bucket=9
        for f in ("00000000000000000004.json", "00000000000000000005.json"):
            with open(os.path.join(log_dir, f)) as fh:
                for line in fh:
                    act = json.loads(line)
                    if "remove" in act:
                        adds.pop(act["remove"]["path"])
                    elif "add" in act:
                        adds[act["add"]["path"]] = json.loads(
                            act["add"]["stats"]
                        )
        assert len(adds) == 11  # 12 buckets - b9 removed, 2 rewritten
        ev = load_table(spark, sf_correctness_dir, "events")
        n = ev.agg({"event_id": "max"}).collect()[0][0] + 1
        thr = (7 * n) // 10
        qualifying = {
            p
            for p, st in adds.items()
            if st["maxValues"]["event_id"] >= thr
        }
        assert qualifying == {
            "data/bucket=8", "data/bucket=10", "data/bucket=11"
        }
        # and the stats are truthful: each file's real max matches
        for p in qualifying:
            real = (
                spark.read.parquet(os.path.join(root, p))
                .agg({"event_id": "max"})
                .collect()[0][0]
            )
            assert real == adds[p]["maxValues"]["event_id"]


class TestIcebergSnapshot:
    def test_manifest_tree_and_three_statuses(
        self, spark, sf_correctness_dir
    ):
        """The current snapshot's manifest list names m0b (rewrite) +
        m1; the stale snapshot-1001 m0 sits in the same directory and
        must NOT be read. Statuses: 5 EXISTING + 1 DELETED in m0b,
        6 ADDED in m1."""
        from metricproxy_spark.io import staged_artifact_dir
        from metricproxy_spark.sources.avro import read_avro_rows

        fn, _ = _q("cdc_iceberg_snapshot")
        n_live = fn(spark, sf_correctness_dir).count()
        root = staged_artifact_dir("iceberg", sf_correctness_dir)
        with open(os.path.join(root, "metadata", "v2.metadata.json")) as fh:
            meta = json.load(fh)
        assert meta["format-version"] == 2
        assert meta["current-snapshot-id"] == 1002
        mlist = read_avro_rows(
            os.path.join(root, "metadata", "snap-1002.avro")
        )
        names = sorted(os.path.basename(m[0]) for m in mlist)
        assert names == ["m0b-1002.avro", "m1-1001.avro"]
        for mpath, mlen, *_rest in mlist:
            assert os.path.getsize(os.path.join(root, mpath)) == mlen
        statuses = []
        record_total = 0
        for mpath, *_r in mlist:
            for st, _snap, _fp, rc in read_avro_rows(
                os.path.join(root, mpath)
            ):
                statuses.append(st)
                if st != 2:
                    record_total += rc
        assert sorted(statuses) == [0] * 5 + [1] * 6 + [2]
        # manifest record_count metadata answers COUNT(*) without
        # touching data — and agrees with the actual scan
        assert record_total == n_live

    def test_stale_snapshot_would_give_wrong_answer(
        self, spark, sf_correctness_dir
    ):
        """Reading snapshot 1001 (all 12 buckets ADDED) yields MORE
        rows than 1002 — proving the snapshot selection is
        load-bearing, not decorative."""
        from metricproxy_spark.io import load_table, staged_artifact_dir
        from metricproxy_spark.sources.avro import read_avro_rows

        fn, _ = _q("cdc_iceberg_snapshot")
        n_1002 = fn(spark, sf_correctness_dir).count()
        root = staged_artifact_dir("iceberg", sf_correctness_dir)
        n_all = 0
        for mpath, *_r in read_avro_rows(
            os.path.join(root, "metadata", "snap-1001.avro")
        ):
            n_all += sum(
                rc
                for st, _s, _f, rc in read_avro_rows(
                    os.path.join(root, mpath)
                )
                if st != 2
            )
        total = load_table(spark, sf_correctness_dir, "events").count()
        assert n_all == total
        assert n_1002 < n_all


class TestDeletionVectors:
    def test_dv_attachment_is_per_file(self, spark, sf_correctness_dir):
        """Files 6-7 carry NO deletionVector (their error rows
        survive); files 0-5 each carry a descriptor whose cardinality
        equals that file's error-row count — recomputed independently
        from the data."""
        from metricproxy_spark.io import load_table, staged_artifact_dir
        from metricproxy_spark.sources.roaring import read_dv

        fn, _ = _q("cdc_delta_deletion_vectors")
        fn(spark, sf_correctness_dir).count()  # materialize artifact
        root = staged_artifact_dir("deltadv", sf_correctness_dir)
        log = os.path.join(root, "_delta_log", "00000000000000000000.json")
        adds = []
        with open(log) as fh:
            for line in fh:
                act = json.loads(line)
                if "add" in act:
                    adds.append(act["add"])
        assert len(adds) == 8
        with_dv = {a["path"]: a["deletionVector"]
                   for a in adds if "deletionVector" in a}
        without = sorted(a["path"] for a in adds
                         if "deletionVector" not in a)
        assert without == ["data/file-06.parquet", "data/file-07.parquet"]
        ev = load_table(spark, sf_correctness_dir, "events")
        err_by_fid = {
            r["fid"]: r["n"]
            for r in ev.where("event_type = 'error'")
            .groupBy((ev.event_id % 8).cast("int").alias("fid"))
            .agg({"*": "count"})
            .withColumnRenamed("count(1)", "n")
            .collect()
        }
        with open(os.path.join(root, "dv", "deletions.bin"), "rb") as fh:
            data = fh.read()
        for path, dv in with_dv.items():
            fid = int(path.split("file-")[1][:2])
            assert dv["cardinality"] == err_by_fid[fid]
            dead = read_dv(
                data, dv["offset"], dv["sizeInBytes"], dv["cardinality"]
            )
            assert len(dead) == dv["cardinality"]

    def test_positions_point_at_error_rows(self, spark, sf_correctness_dir):
        """Decode file-00's DV and check every deleted POSITION is an
        'error' row in the event_id-sorted file — position semantics,
        not value semantics."""
        import pyarrow.parquet as pq

        from metricproxy_spark.io import staged_artifact_dir
        from metricproxy_spark.sources.roaring import read_dv

        root = staged_artifact_dir("deltadv", sf_correctness_dir)
        if not os.path.isdir(root):
            pytest.skip("artifact built by the oracle test")
        log = os.path.join(root, "_delta_log", "00000000000000000000.json")
        dv = None
        with open(log) as fh:
            for line in fh:
                act = json.loads(line)
                if "add" in act and act["add"]["path"].endswith(
                    "file-00.parquet"
                ):
                    dv = act["add"]["deletionVector"]
        assert dv is not None
        with open(os.path.join(root, "dv", "deletions.bin"), "rb") as fh:
            data = fh.read()
        dead = read_dv(
            data, dv["offset"], dv["sizeInBytes"], dv["cardinality"]
        )
        t = pq.read_table(
            os.path.join(root, "data", "file-00.parquet")
        ).to_pandas()
        assert list(t["event_id"]) == sorted(t["event_id"])  # positional
        for p in dead:
            assert t["event_type"].iloc[p] == "error"
        survivors = t[~t.index.isin(dead)]
        assert (survivors["event_type"] != "error").all()


class TestRowGroupPrune:
    def test_prunes_majority_and_matches_full_scan(
        self, spark, sf_correctness_dir
    ):
        """The footer-driven selection reads a strict minority of row
        groups, and the pruned read equals the unpruned predicate."""
        from metricproxy_spark.io import load_table, staged_artifact_dir
        from metricproxy_spark.sources.parquet_footer import (
            decode_rowgroup_stats,
            read_footer_bytes,
            stat_int64,
        )

        fn, _ = _q("ingest_parquet_rowgroup_prune")
        pruned = fn(spark, sf_correctness_dir)
        root = staged_artifact_dir("rgprune", sf_correctness_dir)
        part = sorted(glob.glob(os.path.join(root, "part-*.parquet")))[0]
        stats = decode_rowgroup_stats(read_footer_bytes(part), "event_id")
        assert len(stats) >= 4  # the small block size made real groups
        ev = load_table(spark, sf_correctness_dir, "events")
        n = ev.agg({"event_id": "max"}).collect()[0][0] + 1
        lo, hi = (2 * n) // 10, (4 * n) // 10
        qualifying = [
            s
            for s in stats
            if stat_int64(s["min_raw"]) <= hi
            and stat_int64(s["max_raw"]) >= lo
        ]
        assert 1 <= len(qualifying) <= len(stats) // 2  # strict minority
        full = (
            ev.where(f"event_id BETWEEN {lo} AND {hi}")
            .select("event_id", "event_type", "user_id", "value")
        )
        assert sorted(map(tuple, pruned.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_stats_decode_matches_pyarrow(self, sf_correctness_dir):
        """The from-scratch Thrift stats decode is pinned byte-for-byte
        against pyarrow's independent reader on the same file."""
        import pyarrow.parquet as pq

        from metricproxy_spark.io import staged_artifact_dir
        from metricproxy_spark.sources.parquet_footer import (
            decode_rowgroup_stats,
            read_footer_bytes,
            stat_int64,
        )

        root = staged_artifact_dir("rgprune", sf_correctness_dir)
        if not os.path.isdir(root):
            pytest.skip("artifact built by the query test")
        part = sorted(glob.glob(os.path.join(root, "part-*.parquet")))[0]
        stats = decode_rowgroup_stats(read_footer_bytes(part), "event_id")
        pf = pq.ParquetFile(part)
        assert len(stats) == pf.metadata.num_row_groups
        for i, s in enumerate(stats):
            rg = pf.metadata.row_group(i)
            col = next(
                rg.column(j)
                for j in range(rg.num_columns)
                if rg.column(j).path_in_schema == "event_id"
            )
            assert stat_int64(s["min_raw"]) == col.statistics.min
            assert stat_int64(s["max_raw"]) == col.statistics.max
            assert s["num_rows"] == rg.num_rows

    def test_missing_column_and_missing_stats_raise(self):
        from metricproxy_spark.sources.parquet_footer import (
            decode_rowgroup_stats,
            read_footer_bytes,
        )

        fb = read_footer_bytes("/root/testdata/sf0.001/events.parquet")
        with pytest.raises(ValueError, match="no column chunk"):
            decode_rowgroup_stats(fb, "not_a_column")


class TestParquetPageDecode:
    def test_all_testdata_columns_match_pyarrow(self):
        """Every decodable physical column of every testdata table,
        decoded from raw pages, equals pyarrow's read — a THIRD
        independent parquet implementation agreeing (the query's
        oracle is DuckDB, the writer was Spark/parquet-mr)."""
        import math

        import pyarrow.parquet as pq

        from metricproxy_spark.sources.parquet_pages import decode_columns

        for table in ("events", "documents", "lineitem", "orders"):
            p = f"/root/testdata/sf0.001/{table}.parquet"
            pf = pq.ParquetFile(p)
            for rg in range(pf.metadata.num_row_groups):
                meta_rg = pf.metadata.row_group(rg)
                for j in range(meta_rg.num_columns):
                    cm = meta_rg.column(j)
                    if cm.physical_type not in (
                        "INT32", "INT64", "FLOAT", "DOUBLE", "BYTE_ARRAY"
                    ):
                        continue
                    name = cm.path_in_schema
                    got = decode_columns(p, [name], rg)[name]
                    arr = pf.read_row_group(rg, columns=[name]).column(0)
                    # compare physical values: timestamps via raw int64
                    import pyarrow as pa

                    if pa.types.is_timestamp(arr.type):
                        ref = arr.cast(pa.int64()).to_pylist()
                    else:
                        ref = arr.to_pylist()
                    if cm.physical_type == "BYTE_ARRAY":
                        got = [
                            None if g is None else g.decode("utf-8")
                            if isinstance(ref[0], str)
                            else g
                            for g in got
                        ]
                    if cm.physical_type in ("FLOAT", "DOUBLE"):
                        assert all(
                            (a is None and b is None)
                            or a == b
                            or (math.isnan(a) and math.isnan(b))
                            for a, b in zip(got, ref)
                        ), (table, name, rg)
                    else:
                        assert got == ref, (table, name, rg)

    def test_strictness(self):
        import pytest as _pytest

        from metricproxy_spark.sources.parquet_footer import (
            read_footer_bytes,
        )
        from metricproxy_spark.sources.parquet_pages import (
            column_chunk_meta,
            decode_column_chunk,
            rle_hybrid,
        )

        p = "/root/testdata/sf0.001/events.parquet"
        footer = read_footer_bytes(p)
        with _pytest.raises(ValueError, match="no leaf column"):
            column_chunk_meta(footer, "nope")
        chunk = dict(column_chunk_meta(footer, "event_id")[0])
        # corrupt codec id -> named refusal
        bad = dict(chunk, codec=9)
        with _pytest.raises(ValueError, match="unsupported codec"):
            decode_column_chunk(p, bad)
        # truncated chunk region -> page walk raises
        bad = dict(chunk, nbytes=10)
        with _pytest.raises(ValueError):
            decode_column_chunk(p, bad)
        # hybrid refusing to run past its region
        with _pytest.raises(ValueError, match="hybrid|truncated"):
            rle_hybrid(b"\x03", 0, 1, 1, 5)  # bit-packed, no payload


def test_delta_threshold_refuses_a_live_add_without_stats():
    """The top-30% threshold is planned from every live add's max: an
    add without stats might hold the global max, so planning from the
    others would lower the threshold silently. It is refused instead."""
    from metricproxy_spark.queries.cdc import _stats_threshold

    def add(path, max_id):
        return {"path": path, "st": {"maxValues": {"event_id": max_id}}}

    assert _stats_threshold([add("a", 9), add("b", 99)]) == 70
    for stats in (None, {"maxValues": None}, {"maxValues": {"event_id": None}}):
        with pytest.raises(ValueError, match="without event_id stats.*'c'"):
            _stats_threshold([add("a", 9), {"path": "c", "st": stats}])
    with pytest.raises(ValueError, match="no live add"):
        _stats_threshold([])
