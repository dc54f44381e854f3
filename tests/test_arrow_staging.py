"""Arrow staging: ``stage_append(pa.Table)``, ``create(pa.Table)`` and
``overwrite(pa.Table)`` write an unpartitioned table in-process with
pyarrow; a DataFrame, or any write to a partitioned table, keeps Spark's
writer. These tests hold the Arrow writer to the Spark writer's output
(schema, field ids, rows, footer bounds, file layout, row lineage,
refusals, properties, sidecars) and pin which ingest paths start Spark
jobs."""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os

import pyarrow as pa
import pyarrow.flight as flight
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from icerunner_spark.connector import Connector, arrow_to_df
from icerunner_spark.flight.client import write_batch
from icerunner_spark.flight.mirror import SyncState, perform_sync
from icerunner_spark.flight.server import IceFlightServer
from icerunner_spark.table import _commit_dir_of, _decode_bound

N = 40


def _lattice(n: int = N, id0: int = 0) -> pa.Table:
    """Every type of the arrow_to_df lattice, with nulls in each
    non-key column (every 7th row)."""
    ids = list(range(id0, id0 + n))

    def nul(vals):
        return [None if i % 7 == 3 else v for i, v in zip(ids, vals)]

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    return pa.table(
        {
            "i64": pa.array(ids, pa.int64()),
            "i8": pa.array(nul([(i % 200) - 100 for i in ids]), pa.int8()),
            "i16": pa.array(nul([i * 37 - 500 for i in ids]), pa.int16()),
            "i32": pa.array(nul([i * 1001 - 7 for i in ids]), pa.int32()),
            "f32": pa.array(nul([i / 3 - 5 for i in ids]), pa.float32()),
            "f64": pa.array(nul([i * 1.5 - 20.25 for i in ids]), pa.float64()),
            "b": pa.array(nul([i % 2 == 0 for i in ids]), pa.bool_()),
            "s": pa.array(nul([f"s{(i * 13) % 29:03d}" for i in ids]), pa.string()),
            "bin": pa.array(nul([bytes([i % 256, 7]) for i in ids]), pa.binary()),
            "d": pa.array(
                nul([datetime.date(2020, 1, 1) + datetime.timedelta(days=i * 3) for i in ids]),
                pa.date32(),
            ),
            "ts": pa.array(
                nul([base + datetime.timedelta(minutes=i * 17) for i in ids]),
                pa.timestamp("us"),
            ),
            "ts_ns": pa.array(
                nul([base + datetime.timedelta(seconds=i * 5) for i in ids]),
                pa.timestamp("ns"),
            ),
            "tsz": pa.array(
                nul([base + datetime.timedelta(hours=i) for i in ids]),
                pa.timestamp("us", tz="UTC"),
            ),
            "ts_ny": pa.array(
                nul([base + datetime.timedelta(hours=i * 5) for i in ids]),
                pa.timestamp("us", tz="America/New_York"),
            ),
            "dec": pa.array(
                nul([decimal.Decimal(i * 125 - 2000) / 100 for i in ids]),
                pa.decimal128(9, 2),
            ),
            "dec18": pa.array(
                nul([decimal.Decimal(i * 98765 - 10**6) / 10**4 for i in ids]),
                pa.decimal128(18, 4),
            ),
            "dec30": pa.array(
                nul([decimal.Decimal(i * 10**12 + 1) / 10**5 for i in ids]),
                pa.decimal128(30, 5),
            ),
            "lst": pa.array(nul([[i, i + 1, None] for i in ids]), pa.list_(pa.int64())),
            "st": pa.array(
                nul([{"x": i, "y": f"y{i}"} for i in ids]),
                pa.struct([("x", pa.int32()), ("y", pa.string())]),
            ),
            "m": pa.array(
                nul([[("k", i), ("z", None)] for i in ids]),
                pa.map_(pa.string(), pa.int64()),
            ),
        }
    )


@pytest.fixture()
def conn(spark, warehouse):
    return Connector(spark, warehouse)


@pytest.fixture()
def server(conn):
    srv = IceFlightServer(conn, host="127.0.0.1", port=0)
    yield srv
    srv.shutdown()


def _twins(conn, data: pa.Table, seed: pa.Table | None = None, properties=None):
    """Two tables created alike from ``seed``; ``data`` is appended to
    one through the Arrow writer and to the other through Spark's."""
    seed = data.slice(0, 1) if seed is None else seed
    out = []
    for name in ("via_arrow", "via_spark"):
        conn.create_table(name, seed)
        t = conn.table(name)
        if properties:
            t.set_properties(properties)
        out.append(t)
    a, s = out
    files_a = a.stage_append(data)
    files_s = s.stage_append(arrow_to_df(conn.spark, data))
    a.publish_append(files_a)
    s.publish_append(files_s)
    return a, s, files_a, files_s


def _flight_rows(server, name: str, where=None) -> pa.Table:
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")
    cmd = {"command": "scan", "table": name}
    if where:
        cmd["where"] = where
    out = client.do_get(flight.Ticket(json.dumps(cmd).encode())).read_all()
    client.close()
    return out.sort_by("i64")


def _merged_bounds(t, files: list[str]) -> dict:
    """{field_id: (lo, hi, nulls)} over ``files``: bounds decoded through
    the schema and merged, None wherever any file lacks them."""
    snap = t.current_snapshot()
    types = {
        str(snap.field_ids[f.name]): f.dataType
        for f in StructType.fromJson(json.loads(snap.schema_json)).fields
    }
    out: dict = {}
    for fid, dt in types.items():
        los, his, nulls = [], [], []
        for rel in files:
            st = snap.file_stats.get(rel, {}).get(fid)
            lo, hi, nc = (list(st) + [None] * 3)[:3] if st else (None, None, None)
            los.append(None if lo is None else _decode_bound(dt, lo))
            his.append(None if hi is None else _decode_bound(dt, hi))
            nulls.append(nc)
        out[fid] = (
            None if None in los else min(los),
            None if None in his else max(his),
            None if None in nulls else sum(nulls),
        )
    return out


def test_arrow_and_spark_staging_agree_on_every_lattice_type(conn, server):
    data = _lattice()
    a, s, files_a, files_s = _twins(conn, data)
    # the Arrow writer stages ONE file per chunk
    assert len(files_a) == 1
    assert json.load(
        open(os.path.join(a.data_dir, _commit_dir_of(files_a[0]), "_write_spec.json"))
    ) == []

    # Spark scan rows are identical
    ra = a.scan().orderBy("i64").collect()
    rs = s.scan().orderBy("i64").collect()
    assert len(ra) == N + 1
    assert ra == rs
    # naive timestamps read in the session zone (UTC), as Spark reads them
    row = a.scan().filter(F.col("i64") == 1).collect()[0]
    assert row["ts"] == datetime.datetime(2024, 3, 1, 12, 17)

    # Flight scan rows and schema are identical
    fa, fs = _flight_rows(server, "via_arrow"), _flight_rows(server, "via_spark")
    assert fa.schema == fs.schema
    assert fa.to_pylist() == fs.to_pylist()

    # footer bounds agree wherever Spark's files record them; the one
    # named exception is the int-backed decimal (precision <= 18): Spark
    # stores it as INT32/INT64, whose statistics pyarrow cannot decode,
    # while pyarrow writes FIXED_LEN_BYTE_ARRAY with decodable bounds
    ba, bs = _merged_bounds(a, files_a), _merged_bounds(s, files_s)
    snap = a.current_snapshot()
    name_of = {str(v): k for k, v in snap.field_ids.items()}
    only_arrow = set()
    for fid, (lo, hi, nc) in bs.items():
        alo, ahi, anc = ba[fid]
        if lo is not None:
            assert (alo, ahi) == (lo, hi), name_of[fid]
        elif alo is not None:
            only_arrow.add(name_of[fid])
        if nc is not None:
            assert anc == nc, name_of[fid]
    assert only_arrow == {"dec", "dec18"}
    for col in ("i64", "i8", "i16", "i32", "f64", "s", "d", "ts", "tsz", "dec30"):
        assert bs[str(snap.field_ids[col])][0] is not None, col

    # those extra decimal bounds prune correctly: a range beyond them
    # skips the file, an in-range predicate keeps the exact rows
    for col in sorted(only_arrow):
        vals = [v for v in data.column(col).to_pylist() if v is not None]
        hi = max(vals)
        assert not set(a.plan_files([(col, ">", str(hi))])) & set(files_a)
        mid = sorted(vals)[len(vals) // 2]
        where = [[col, ">=", str(mid)]]
        want = sorted(i for i, v in zip(data.column("i64").to_pylist(),
                                        data.column(col).to_pylist())
                      if v is not None and v >= mid)
        for name in ("via_arrow", "via_spark"):
            got = _flight_rows(server, name, where).column("i64").to_pylist()
            assert got == want, (name, col)


def test_narrower_inputs_upcast_and_wider_refuse_alike(conn, server):
    seed = pa.table({"id": pa.array([0], pa.int64()), "x": pa.array([0.5], pa.float64()),
                     "k": pa.array([0], pa.int32())})
    narrow = pa.table({"k": pa.array([1, 2], pa.int16()),
                       "x": pa.array([1.25, None], pa.float32()),
                       "id": pa.array([1, 2], pa.int32())})
    a, s, _, _ = _twins(conn, narrow, seed=seed)
    ra = a.scan().orderBy("id").collect()
    assert ra == s.scan().orderBy("id").collect()
    assert [tuple(r) for r in ra] == [(0, 0.5, 0), (1, 1.25, 1), (2, None, 2)]
    assert a.scan().schema == s.scan().schema

    wide = pa.table({"id": pa.array([3], pa.int64()), "x": pa.array([1.0], pa.float64()),
                     "k": pa.array([3], pa.int64())})
    errors = []
    for data in (wide, arrow_to_df(conn.spark, wide)):
        with pytest.raises(ValueError) as e:
            a.stage_append(data)
        errors.append(str(e.value))
    assert errors[0] == errors[1]
    assert "column k is bigint but the table declares int" in errors[0]
    # through do_put the refusal reaches the client as a server error
    with pytest.raises(flight.FlightServerError, match="column k is bigint"):
        write_batch("127.0.0.1", server.port, "via_arrow", wide)
    assert a.scan().count() == 3
    # a missing column refuses too
    with pytest.raises(ValueError, match="lacks table columns \\['x'\\]"):
        a.stage_append(wide.drop_columns(["x"]))


def test_not_null_declarations_take_and_refuse_arrow_nulls_alike(spark, conn):
    """On a table declared NOT NULL (created from a Spark DataFrame), both
    writers take nulls in a top-level column — Spark's file writer makes
    every column nullable on disk — and both refuse, with one error, an
    array type that allows null elements where the table declares none."""
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("xs", ArrayType(IntegerType(), False), False),
    ])
    strict = pa.list_(pa.field("element", pa.int32(), nullable=False))
    ok = pa.table({"id": pa.array([1, None], pa.int64()),
                   "xs": pa.array([[1, 2], None], strict)})
    rows, errors = [], []
    for name, conv in (("nn_arrow", lambda d: d), ("nn_spark", lambda d: arrow_to_df(spark, d))):
        t = conn.table(name)
        t.create(spark.createDataFrame([(0, [0])], schema))
        t.append(conv(ok))
        rows.append(sorted(t.scan().collect(), key=lambda r: (r["id"] is None, r["id"])))
        with pytest.raises(ValueError) as e:
            t.append(conv(ok.cast(pa.schema([("id", pa.int64()),
                                              ("xs", pa.list_(pa.int32()))]))))
        errors.append(str(e.value))
    assert rows[0] == rows[1]
    assert [tuple(r) for r in rows[0]] == [(0, [0]), (1, [1, 2]), (None, None)]
    assert errors[0] == errors[1]
    assert "column xs may hold nested nulls" in errors[0]


def _key(v):
    return "nan" if isinstance(v, float) and math.isnan(v) else v


def test_sort_codec_bloom_and_ndv_properties_agree(conn):
    data = _lattice(60)
    g = [None if i % 9 == 4 else (float("nan") if i % 11 == 5 else (i * 7) % 13 - 6.0)
         for i in range(60)]
    data = data.append_column("g", pa.array(g, pa.float64()))
    props = {
        "write.sort.columns": "g,s",
        "write.parquet.compression-codec": "gzip",
        "write.bloom.columns": "i64,s",
        "write.ndv.columns": "i64,s",
    }
    a, s, files_a, files_s = _twins(conn, data, properties=props)
    assert len(files_a) == 1
    # sorted as Spark's ascending sort: nulls first, NaN after every number
    got = [
        (_key(r["g"]), r["s"])
        for r in pq.read_table(os.path.join(a.path, files_a[0]), columns=["g", "s"]).to_pylist()
    ]
    spark_order = [
        (_key(r["g"]), r["s"])
        for r in arrow_to_df(conn.spark, data).orderBy("g", "s").select("g", "s").collect()
    ]
    assert got == spark_order
    for f in files_s:  # and Spark's own files are sorted the same way
        rows = [(_key(r["g"]), r["s"]) for r in
                pq.read_table(os.path.join(s.path, f), columns=["g", "s"]).to_pylist()]
        ranks = [spark_order.index(k) for k in rows]
        assert ranks == sorted(ranks)
    # the table's codec
    for t, files in ((a, files_a), (s, files_s)):
        for f in files:
            md = pq.read_metadata(os.path.join(t.path, f))
            assert {md.row_group(0).column(i).compression
                    for i in range(md.num_columns)} == {"GZIP"}
    # bloom: the same bits once the Spark files' bitmaps are OR-ed
    import base64

    import numpy as np

    def _bloom(t, files, col):
        bits = None
        for f in files:
            e = t._load_bloom_sidecar(_commit_dir_of(f))[f][col]
            b = np.frombuffer(base64.b64decode(e["bits"]), dtype="uint8")
            bits = b if bits is None else bits | b
        return bits.tobytes(), e["nbits"], e["k"], e["type"]

    for col in ("i64", "s"):
        assert _bloom(a, files_a, col) == _bloom(s, files_s, col)
    eq = a.scan(where=[("s", "=", "s007")]).count()
    assert eq == s.scan(where=[("s", "=", "s007")]).count() > 0
    # NDV: every staged file carries sketches; the estimates agree
    for t, files in ((a, files_a), (s, files_s)):
        for f in files:
            assert set(t._load_ndv_sidecar(_commit_dir_of(f))[f]) == {"i64", "s"}
    for col in ("i64", "s"):
        assert a.approx_ndv(col) == s.approx_ndv(col)

    # an unknown sort column refuses alike, before anything is written
    a.set_properties({"write.sort.columns": "nope"})
    s.set_properties({"write.sort.columns": "nope"})
    dirs = set(os.listdir(a.data_dir))
    errors = []
    for t, d in ((a, data), (s, arrow_to_df(conn.spark, data))):
        with pytest.raises(ValueError) as e:
            t.stage_append(d)
        errors.append(str(e.value))
    assert errors[0] == errors[1] == "write.sort.columns references unknown columns ['nope']"
    assert set(os.listdir(a.data_dir)) == dirs


def _layout(t) -> list[int]:
    """Rows per data file of the current snapshot, in manifest order."""
    return [pq.read_metadata(os.path.join(t.path, f)).num_rows
            for f in t.current_snapshot().manifest]


def _lineage(t) -> list[tuple]:
    return [tuple(r) for r in t.scan(with_lineage=True)
            .select("i64", "_row_id", "_last_updated_sequence").orderBy("i64").collect()]


def _assert_twins_agree(server, a, s) -> None:
    """``a`` (written by the Arrow writer) and ``s`` (by Spark's) hold
    the same table: schema, field ids, Spark and Flight rows, file
    layout, row lineage, and footer bounds wherever Spark's files record
    them — the one named exception is the int-backed decimal (precision
    <= 18), whose INT32/INT64 statistics pyarrow cannot decode, while
    pyarrow writes FIXED_LEN_BYTE_ARRAY with decodable bounds."""
    sa, ss = a.current_snapshot(), s.current_snapshot()
    assert sa.schema_json == ss.schema_json
    assert sa.field_ids == ss.field_ids
    assert sa.next_field_id == ss.next_field_id
    assert a.scan().orderBy("i64").collect() == s.scan().orderBy("i64").collect()
    fa = _flight_rows(server, os.path.basename(a.path))
    fs = _flight_rows(server, os.path.basename(s.path))
    assert fa.schema == fs.schema
    assert fa.to_pylist() == fs.to_pylist()
    assert _layout(a) == _layout(s)
    assert _lineage(a) == _lineage(s)
    ba, bs = _merged_bounds(a, sa.manifest), _merged_bounds(s, ss.manifest)
    name_of = {str(v): k for k, v in sa.field_ids.items()}
    for fid, (lo, hi, nc) in bs.items():
        alo, ahi, anc = ba[fid]
        if lo is not None:
            assert (alo, ahi) == (lo, hi), name_of[fid]
        elif alo is not None:
            assert name_of[fid] in ("dec", "dec18"), name_of[fid]
        if nc is not None:
            assert anc == nc, name_of[fid]


def test_arrow_and_spark_create_agree_on_every_lattice_type(spark, conn, server):
    data = _lattice()
    a, s = conn.table("via_arrow"), conn.table("via_spark")
    a.create(data)
    s.create(arrow_to_df(spark, data))
    _assert_twins_agree(server, a, s)
    assert a.current_snapshot().operation == "create"
    assert a.scan().count() == N
    assert len(a.current_snapshot().manifest) == min(N, spark.sparkContext.defaultParallelism)
    # every part in ONE commit dir, with one sidecar set
    files = a.current_snapshot().manifest
    assert len({_commit_dir_of(f) for f in files}) == 1
    assert files == sorted(files)
    assert [os.path.basename(f)[:10] for f in files] == [
        f"part-{i:05d}" for i in range(len(files))
    ]
    d = os.path.join(a.data_dir, _commit_dir_of(files[0]))
    assert json.load(open(os.path.join(d, "_write_spec.json"))) == []
    assert set(json.load(open(os.path.join(d, "_file_stats.json")))) == set(files)


@pytest.mark.parametrize("n", [0, 3, 137])
def test_create_file_layout_matches_spark(spark, conn, server, n):
    """0 rows make one empty file, fewer rows than cores one file per
    row, more rows one near-equal slice per core, in input order —
    Spark's layout, so the rows and their lineage ids land alike."""
    data = _lattice(n)
    a, s = conn.table("via_arrow"), conn.table("via_spark")
    a.create(data)
    s.create(arrow_to_df(spark, data))
    _assert_twins_agree(server, a, s)
    assert len(_layout(a)) == min(max(n, 1), spark.sparkContext.defaultParallelism)
    assert sum(_layout(a)) == n


def test_create_sort_and_codec_properties_agree(spark, conn):
    data = _lattice(60)
    g = [None if i % 9 == 4 else (float("nan") if i % 11 == 5 else (i * 7) % 13 - 6.0)
         for i in range(60)]
    data = data.append_column("g", pa.array(g, pa.float64()))
    props = {"write.sort.columns": "g,s", "write.parquet.compression-codec": "gzip"}
    a, s = conn.table("via_arrow"), conn.table("via_spark")
    a.create(data, properties=props)
    s.create(arrow_to_df(spark, data), properties=props)
    assert a.properties() == s.properties() == props

    def _keys(t):
        out = []
        for f in t.current_snapshot().manifest:
            path = os.path.join(t.path, f)
            md = pq.read_metadata(path)
            assert {md.row_group(0).column(i).compression
                    for i in range(md.num_columns)} == {"GZIP"}
            out.append([(_key(r["g"]), r["s"])
                        for r in pq.read_table(path, columns=["g", "s"]).to_pylist()])
        return out

    # the same slices, each sorted as Spark's task-local sort sorts it
    keys = _keys(a)
    assert keys == _keys(s)
    assert len(keys) > 1


def test_arrow_and_spark_overwrite_agree(spark, conn, server):
    """An overwrite that drops a column, keeps the rest and adds one:
    ids carry over by name on both writers."""
    seed = _lattice(12)
    data = _lattice(45, id0=100).drop_columns(["m", "bin"]).append_column(
        "extra", pa.array([f"e{i}" for i in range(45)], pa.string())
    )
    a, s = conn.table("via_arrow"), conn.table("via_spark")
    for t in (a, s):
        t.create(seed, properties={"write.sort.columns": "s"})
    a.overwrite(data)
    s.overwrite(arrow_to_df(spark, data))
    _assert_twins_agree(server, a, s)
    snap = a.current_snapshot()
    assert snap.operation == "overwrite"
    assert a.scan().count() == 45
    assert snap.field_ids["i64"] == a.snapshots()[0].field_ids["i64"]
    assert "m" not in snap.field_ids and "extra" in snap.field_ids


def test_create_and_overwrite_refuse_alike(spark, conn):
    """Inputs Spark's path refuses are refused by the Arrow path too,
    before anything is written."""
    lossy = pa.table({"id": pa.array([0, 1], pa.int64()),
                      "ts": pa.array([0, 1_000_000_001], pa.timestamp("ns"))})
    t = conn.table("lossy")
    with pytest.raises(pa.ArrowInvalid):
        arrow_to_df(spark, lossy)  # Spark's path refuses it on conversion
    with pytest.raises(pa.ArrowInvalid):
        t.create(lossy)
    assert not t.exists()
    assert not os.path.exists(t.data_dir) or not os.listdir(t.data_dir)
    ok = lossy.set_column(1, "ts", pa.array([0, 1_000_000_000], pa.timestamp("ns")))
    t.create(ok)
    with pytest.raises(pa.ArrowInvalid):
        t.overwrite(lossy)
    assert t.scan().count() == 2
    assert t.current_snapshot().operation == "create"

    errors = []
    for name, data in (("sa", ok), ("ss", arrow_to_df(spark, ok))):
        with pytest.raises(ValueError) as e:
            conn.table(name).create(data, properties={"write.sort.columns": "nope"})
        errors.append(str(e.value))
        assert not conn.table(name).exists()
    assert errors[0] == errors[1] == "write.sort.columns references unknown columns ['nope']"


def test_arrow_create_and_overwrite_start_no_spark_job(spark, conn):
    data = _lattice(30)
    before = _job_ids(spark)
    assert conn.create_table("quiet", data)
    conn.table("quiet").overwrite(_lattice(50, id0=7))
    assert _job_ids(spark) - before == set()
    assert conn.count("quiet") == 50

    # a partitioned create, or a DataFrame one, still runs Spark's writer
    before = _job_ids(spark)
    conn.create_table("loud", data, partition_by=["b"])
    assert _job_ids(spark) - before
    added = conn.table("loud").current_snapshot().added_files
    assert {f.split("/")[2] for f in added} == {"b=true", "b=false", "b=__HIVE_DEFAULT_PARTITION__"}
    before = _job_ids(spark)
    conn.table("loud").overwrite(_lattice(9))  # the spec carries over: Spark
    assert _job_ids(spark) - before
    before = _job_ids(spark)
    conn.table("df").create(arrow_to_df(spark, data))
    assert _job_ids(spark) - before
    assert os.path.exists(os.path.join(
        conn.table("df").data_dir,
        _commit_dir_of(conn.table("df").current_snapshot().manifest[0]), "_SUCCESS"))


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_unpartitioned_put_and_sync_start_no_spark_job(spark, conn, server, tmp_path):
    rows = pa.table({"id": pa.array([0], pa.int64()), "v": pa.array(["a"], pa.string())})
    before = _job_ids(spark)
    conn.create_table("hot", rows)
    url = f"grpc://127.0.0.1:{server.port}/hot"
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")
    mirror = Connector(spark, str(tmp_path / "mirror"))
    state = SyncState(mirror.catalog.warehouse_path)
    assert perform_sync(client, url, "hot", "hot_m", mirror, state) == 1  # creates it
    assert _job_ids(spark) - before == set()

    more = pa.table({"id": pa.array(range(1, 500), pa.int64()),
                     "v": pa.array([f"v{i}" for i in range(1, 500)], pa.string())})
    before = _job_ids(spark)
    write_batch("127.0.0.1", server.port, "hot", more)
    assert _job_ids(spark) - before == set()
    t = conn.table("hot")
    assert t.current_snapshot().operation == "append"
    assert len(t.current_snapshot().added_files) == 1

    before = _job_ids(spark)
    assert perform_sync(client, url, "hot", "hot_m", mirror, state) == 499
    assert _job_ids(spark) - before == set()
    assert state.get_last_sync_state(url, "hot_m")["last_sync_status"] == "success"
    client.close()
    assert mirror.count("hot_m") == 500  # metadata count: no job either


def test_partitioned_put_keeps_spark_writer(spark, conn, server):
    seed = pa.table({"id": pa.array([0], pa.int64()), "lang": pa.array(["en"], pa.string())})
    conn.create_table("parts", seed, partition_by=["lang"])
    data = pa.table({"id": pa.array(range(1, 7), pa.int64()),
                     "lang": pa.array(["en", "fr", "de"] * 2, pa.string())})
    before = _job_ids(spark)
    write_batch("127.0.0.1", server.port, "parts", data)
    assert _job_ids(spark) - before  # the probe sees Spark jobs when they run
    added = conn.table("parts").current_snapshot().added_files
    assert {f.split("/")[2] for f in added} == {"lang=en", "lang=fr", "lang=de"}
    assert sorted(conn.table("parts").scan().select("id").toPandas()["id"]) == list(range(7))


def test_dataframe_append_keeps_spark_writer(spark, conn):
    seed = pa.table({"id": pa.array([0], pa.int64())})
    conn.create_table("dfs", seed)
    t = conn.table("dfs")
    before = _job_ids(spark)
    files = t.stage_append(spark.range(1, 100).repartition(3))
    assert _job_ids(spark) - before
    assert len(files) == 3  # one file per task: Spark's writer
    assert os.path.exists(os.path.join(t.data_dir, _commit_dir_of(files[0]), "_SUCCESS"))
