"""End-to-end Flight: server bootstrap, do_put/do_get round-trip,
get_flight_info without materialization, the mirror command protocol
(SURVEY.md §5 test strategy items 3-4)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from pyspark.sql import functions as F

from icerunner_spark.connector import Connector
from icerunner_spark.flight.client import (
    get_remote_tables,
    parse_flight_url,
    read_table_filtered,
    read_table_once,
    write_batch,
)
from icerunner_spark.flight.mirror import SyncState, run_mirror
from icerunner_spark.flight.server import IceFlightServer
from icerunner_spark.sample_data import bootstrap_demo_tables, create_sample_table


@pytest.fixture()
def server(spark, warehouse):
    c = Connector(spark, warehouse)
    srv = IceFlightServer(c, host="127.0.0.1", port=0)
    yield srv
    srv.shutdown()


def _client(server) -> flight.FlightClient:
    return flight.connect(f"grpc://127.0.0.1:{server.port}")


def _writer_table(ids, values):
    return pa.table({"id": pa.array(ids, pa.int64()), "value": pa.array(values, pa.string())})


def test_parse_flight_url():
    assert parse_flight_url("grpc://h:1234/t") == ("h", 1234)
    assert parse_flight_url("grpc://h/t") == ("h", 8815)


def test_demo_bootstrap(server):
    bootstrap_demo_tables(server.connector, "demo")
    assert server.connector.tables == ["demo", "demo_events", "demo_iot", "demo_sales"]
    assert server.connector.count("demo") == 200
    assert server.connector.count("demo_events") == 100
    # deterministic generation
    t1 = create_sample_table(10, "analytics", seed=7)
    t2 = create_sample_table(10, "analytics", seed=7)
    assert t1.equals(t2)


def test_put_get_roundtrip(server):
    c = server.connector
    c.create_table("w", _writer_table([1], ["a"]))
    write_batch("127.0.0.1", server.port, "w", _writer_table([2, 3], ["b", "c"]))
    out = read_table_once("127.0.0.1", server.port, "w")
    assert sorted(out.column("id").to_pylist()) == [1, 2, 3]


def test_put_missing_table_fails(server):
    with pytest.raises(flight.FlightServerError):
        write_batch("127.0.0.1", server.port, "nope", _writer_table([1], ["a"]))


def test_flight_info_metadata_only(server):
    c = server.connector
    c.create_table("t", _writer_table([1, 2, 3, 4], ["a", "b", "c", "d"]))
    info = _client(server).get_flight_info(flight.FlightDescriptor.for_path(b"t"))
    assert info.total_records == 4  # real totals, not -1 (icerunner.py:307)
    assert info.total_bytes > 0
    names = set(info.schema.names)
    assert names == {"id", "value"}
    # advertised endpoint carries the real bound port (reference hard-codes
    # 8816, icerunner.py:303)
    assert str(server.port) in info.endpoints[0].locations[0].uri.decode() if isinstance(
        info.endpoints[0].locations[0].uri, bytes
    ) else str(server.port) in info.endpoints[0].locations[0].uri


def test_list_tables_command(server):
    c = server.connector
    c.create_table("t1", _writer_table([1], ["a"]))
    c.create_table("t2", _writer_table([2], ["b"]))
    assert get_remote_tables(_client(server)) == ["t1", "t2"]


def test_get_schema_command(server):
    c = server.connector
    c.create_table("t", _writer_table([1], ["a"]))
    client = _client(server)
    import json

    cmd = {"command": "get_schema", "table": "t"}
    info = client.get_flight_info(flight.FlightDescriptor.for_command(json.dumps(cmd).encode()))
    reader = client.do_get(info.endpoints[0].ticket)
    batch = reader.read_chunk().data
    assert batch.num_rows == 0
    assert set(batch.schema.names) == {"id", "value"}


def test_get_changes_and_metadata_commands(server):
    import json

    c = server.connector
    c.create_table("t", _writer_table([1], ["a"]))
    snap0 = c.get_current_snapshot_id("t")
    c.insert("t", _writer_table([2, 3], ["b", "c"]))
    client = _client(server)

    cmd = {"command": "get_changes", "table": "t", "snapshot_id": snap0}
    info = client.get_flight_info(flight.FlightDescriptor.for_command(json.dumps(cmd).encode()))
    out = client.do_get(info.endpoints[0].ticket).read_all()
    assert sorted(out.column("id").to_pylist()) == [2, 3]

    cmd = {"command": "get_metadata", "table": "t"}
    info = client.get_flight_info(flight.FlightDescriptor.for_command(json.dumps(cmd).encode()))
    meta = client.do_get(info.endpoints[0].ticket).read_all().to_pydict()
    assert meta["snapshot_id"][0] == c.get_current_snapshot_id("t")
    assert meta["total_rows"][0] == 3
    # table properties ride the metadata reply (remote config visibility)
    c.table("t").set_properties({"write.bloom.columns": "id"})
    info = client.get_flight_info(flight.FlightDescriptor.for_command(json.dumps(cmd).encode()))
    meta = client.do_get(info.endpoints[0].ticket).read_all().to_pydict()
    assert json.loads(meta["properties"][0]) == {"write.bloom.columns": "id"}


def test_sql_ticket(server):
    import json

    c = server.connector
    c.create_table("t", _writer_table([1, 2, 3], ["a", "b", "a"]))
    client = _client(server)
    cmd = {"sql": "SELECT value, COUNT(*) AS n FROM t GROUP BY value ORDER BY value"}
    info = client.get_flight_info(flight.FlightDescriptor.for_command(json.dumps(cmd).encode()))
    out = client.do_get(info.endpoints[0].ticket).read_all()
    assert out.column("value").to_pylist() == ["a", "b"]
    assert out.column("n").to_pylist() == [2, 1]


def test_sql_ticket_engine_functions_in_scope(server):
    """Remote SQL can call the engine's ice_* SQL UDFs (expression
    macros registered by Connector.sql_df) — the surface a reference
    sql() user gets, extended with the pipeline primitives."""
    import json

    c = server.connector
    c.create_table("t", _writer_table([1, 2], ["a  b", "c@d.com x"]))
    client = _client(server)
    cmd = {"sql": "SELECT id, ice_token_count(value) AS n, "
                  "ice_redact_pii(value) AS red FROM t ORDER BY id"}
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
    )
    out = client.do_get(info.endpoints[0].ticket).read_all()
    assert out.column("n").to_pylist() == [2, 6]  # c@d.com = 5 tokens
    assert out.column("red").to_pylist()[1] == "<EMAIL> x"


def test_sql_ticket_streams_without_materializing(server):
    """SQL-ticket serve path pin: the result reaches the client in
    chunk_rows-bounded batches via the parquet spill path — the server
    never holds the full result in memory (no _collect_as_arrow /
    toArrow on the serve path) — and the spill directory is deleted
    once the stream is drained."""
    import glob
    import json
    import tempfile

    c = server.connector
    n = 10_000
    server.chunk_rows = 1_000
    c.create_table(
        "big",
        pa.table(
            {
                "id": pa.array(range(n), pa.int64()),
                "value": pa.array([f"v{i % 7}" for i in range(n)], pa.string()),
            }
        ),
    )
    client = _client(server)
    cmd = {"sql": "SELECT id, value FROM big"}
    info = client.get_flight_info(flight.FlightDescriptor.for_command(json.dumps(cmd).encode()))
    reader = client.do_get(info.endpoints[0].ticket)
    sizes, total = [], 0
    while True:
        try:
            batch = reader.read_chunk().data
        except StopIteration:
            break
        if batch is None:
            break
        sizes.append(batch.num_rows)
        total += batch.num_rows
    assert total == n
    assert max(sizes) <= server.chunk_rows  # memory ceiling per batch
    assert len(sizes) >= n // server.chunk_rows  # actually chunked
    # spill dir cleaned up after the stream is drained
    leftovers = glob.glob(os.path.join(tempfile.gettempdir(), "iceflight-sqlres-*"))
    assert leftovers == []


def test_mirror_full_then_incremental(spark, server, tmp_path):
    """Two-warehouse mirror e2e: initial full sync, then append -> only the
    delta moves, then no-op when source unchanged (the behavior the
    reference intends but cannot achieve, icerunner.py:996-1076)."""
    src = server.connector
    src.create_table("t", _writer_table([1, 2], ["a", "b"]))

    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/t"

    n1 = run_mirror(url, target_table="t_mirror", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n1 == 2
    tgt = Connector(spark, target_wh)
    assert tgt.count("t_mirror") == 2

    # append at source; incremental sync moves only the delta
    src.insert("t", _writer_table([3], ["c"]))
    n2 = run_mirror(url, target_table="t_mirror", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n2 == 1
    assert sorted(tgt.query("t_mirror").column("id").to_pylist()) == [1, 2, 3]

    # unchanged source -> no-op (idempotence guard)
    n3 = run_mirror(url, target_table="t_mirror", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n3 == 0
    assert tgt.count("t_mirror") == 3

    state = SyncState(target_wh).get_last_sync_state(url, "t_mirror")
    assert state["last_sync_status"] == "success"
    assert state["source_snapshot_id"] == src.get_current_snapshot_id("t")


def test_parallel_slice_read(server):
    """get_slices must return disjoint snapshot-pinned slice endpoints
    whose union equals the single-stream read."""
    import json

    from icerunner_spark.flight.client import read_table_parallel

    c = server.connector
    c.create_table("ps", _writer_table([1, 2], ["a", "b"]))
    c.insert("ps", _writer_table([3, 4], ["c", "d"]))
    c.insert("ps", _writer_table([5], ["e"]))

    full = read_table_once("127.0.0.1", server.port, "ps")
    par = read_table_parallel("127.0.0.1", server.port, "ps", n_streams=3)
    assert sorted(par.column("id").to_pylist()) == sorted(
        full.column("id").to_pylist()
    )

    # more streams than files: still complete, no duplication
    par_big = read_table_parallel("127.0.0.1", server.port, "ps", n_streams=16)
    assert sorted(par_big.column("id").to_pylist()) == sorted(
        full.column("id").to_pylist()
    )

    # every slice ticket pins the same snapshot id
    cl = _client(server)
    info = cl.get_flight_info(
        flight.FlightDescriptor.for_command(
            json.dumps({"command": "get_slices", "table": "ps", "n": 3}).encode()
        )
    )
    snaps = {
        json.loads(ep.ticket.ticket.decode())["snapshot_id"]
        for ep in info.endpoints
    }
    assert len(info.endpoints) == 3 and len(snaps) == 1
    assert info.total_records == 5


def test_get_changes_raises_across_overwrite(server):
    """ADVICE r1: get_changes over a range containing an overwrite snapshot
    must error (append-only diff contract, like IceTable.scan_changes) so
    mirror clients fall back to full resync instead of silently diverging."""
    import json

    from icerunner_spark.connector import arrow_to_df

    c = server.connector
    c.create_table("ow", _writer_table([1, 2], ["a", "b"]))
    snap0 = c.get_current_snapshot_id("ow")
    c.table("ow").overwrite(arrow_to_df(c.spark, _writer_table([9], ["z"])))
    client = _client(server)
    cmd = {"command": "get_changes", "table": "ow", "snapshot_id": snap0}
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
    )
    with pytest.raises(flight.FlightServerError, match="overwrite"):
        client.do_get(info.endpoints[0].ticket).read_all()


def test_get_changes_end_snapshot_bound(server):
    """get_changes honors end_snapshot_id: rows committed after the pinned
    end are excluded (the mirror's cursor race fix depends on this)."""
    import json

    c = server.connector
    c.create_table("bd", _writer_table([1], ["a"]))
    snap0 = c.get_current_snapshot_id("bd")
    c.insert("bd", _writer_table([2], ["b"]))
    snap1 = c.get_current_snapshot_id("bd")
    c.insert("bd", _writer_table([3], ["c"]))  # after the pinned end

    client = _client(server)
    cmd = {
        "command": "get_changes",
        "table": "bd",
        "snapshot_id": snap0,
        "end_snapshot_id": snap1,
    }
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(json.dumps(cmd).encode())
    )
    out = client.do_get(info.endpoints[0].ticket).read_all()
    assert sorted(out.column("id").to_pylist()) == [2]


def test_mirror_full_resync_after_source_overwrite(spark, server, tmp_path):
    """ADVICE r1 e2e: source overwrite forces the mirror onto the
    full-overwrite resync path; the target converges to the source rows
    (not source-plus-stale-appends)."""
    src = server.connector
    src.create_table("t2", _writer_table([1, 2], ["a", "b"]))

    target_wh = str(tmp_path / "target_wh2")
    url = f"grpc://127.0.0.1:{server.port}/t2"
    run_mirror(url, target_table="m", warehouse_path=target_wh,
               continuous=False, spark=spark)

    from icerunner_spark.connector import arrow_to_df

    src.table("t2").overwrite(arrow_to_df(spark, _writer_table([7, 8, 9], ["x", "y", "z"])))
    run_mirror(url, target_table="m", warehouse_path=target_wh,
               continuous=False, spark=spark)

    tgt = Connector(spark, target_wh)
    assert sorted(tgt.query("m").column("id").to_pylist()) == [7, 8, 9]
    state = SyncState(target_wh).get_last_sync_state(url, "m")
    assert state["last_sync_status"] == "full_resync"
    assert state["source_snapshot_id"] == src.get_current_snapshot_id("t2")

    # and the next pass is a clean incremental again
    src.insert("t2", _writer_table([10], ["w"]))
    n = run_mirror(url, target_table="m", warehouse_path=target_wh,
                   continuous=False, spark=spark)
    assert n == 1
    assert sorted(tgt.query("m").column("id").to_pylist()) == [7, 8, 9, 10]


def test_mirror_initial_sync_pins_snapshot_cursor(spark, server, tmp_path):
    """The initial full sync records the snapshot id of the version it
    actually read (pinned via get_slices), not whatever is current after
    the drain."""
    src = server.connector
    src.create_table("pin", _writer_table([1, 2], ["a", "b"]))
    pinned = src.get_current_snapshot_id("pin")

    target_wh = str(tmp_path / "target_pin")
    url = f"grpc://127.0.0.1:{server.port}/pin"
    run_mirror(url, target_table="pin", warehouse_path=target_wh,
               continuous=False, spark=spark)
    state = SyncState(target_wh).get_last_sync_state(url, "pin")
    assert state["source_snapshot_id"] == pinned


def test_do_put_commits_single_snapshot(server):
    """ADVICE r1: a chunked do_put publishes exactly ONE snapshot at stream
    end — readers never observe a partially-applied upload."""
    c = server.connector
    c.create_table("atom", _writer_table([0], ["seed"]))
    n_before = len(c.table("atom").snapshots())

    # 5 batches, chunk_rows small enough to force multiple staged chunks
    server.chunk_rows = 2
    big = pa.table(
        {
            "id": pa.array(list(range(1, 10)), pa.int64()),
            "value": pa.array([f"v{i}" for i in range(1, 10)], pa.string()),
        }
    )
    write_batch("127.0.0.1", server.port, "atom", big)
    snaps = c.table("atom").snapshots()
    assert len(snaps) == n_before + 1
    assert snaps[-1].operation == "append"
    assert c.count("atom") == 10


def test_do_put_failure_cleans_staged_files(server, monkeypatch):
    """An upload that dies after some chunks were staged must not leak
    what it staged under data/ — the server deletes the staged commit
    dirs whole and re-raises; no snapshot is published."""
    from icerunner_spark.table import IceTable

    c = server.connector
    c.create_table("clean", _writer_table([0], ["seed"]))
    server.chunk_rows = 2
    orig = IceTable.stage_append
    calls = {"n": 0}

    def flaky(self, df):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("synthetic disk-full")
        return orig(self, df)

    monkeypatch.setattr(IceTable, "stage_append", flaky)
    data_dir = c.table("clean").data_dir
    dirs_before = set(os.listdir(data_dir))
    big = pa.table(
        {
            "id": pa.array(list(range(1, 10)), pa.int64()),
            "value": pa.array([f"v{i}" for i in range(1, 10)], pa.string()),
        }
    )
    with pytest.raises(flight.FlightError):
        client = _client(server)
        writer, _ = client.do_put(
            flight.FlightDescriptor.for_path(b"clean"), big.schema
        )
        # stream 2-row batches so the server stages multiple chunks; the
        # second stage_append raises mid-stream
        with writer:
            for batch in big.to_batches(max_chunksize=2):
                writer.write_batch(batch)
            writer.done_writing()
    monkeypatch.undo()
    t = c.table("clean")
    assert len(t.snapshots()) == 1  # nothing published
    assert c.count("clean") == 1
    # nothing leaked: the staged chunk's commit dir — parquet and JSON
    # sidecars alike — was removed by the server
    assert set(os.listdir(data_dir)) == dirs_before
    assert t.remove_orphans(older_than_s=0.0) == []


def test_get_changes_end_before_start_error(server):
    """ADVICE r2: end-before-start gets a dedicated ordering error, not a
    misleading 'unknown snapshot: <start>'."""
    c = server.connector
    c.create_table("ord", _writer_table([1], ["a"]))
    s0 = c.get_current_snapshot_id("ord")
    c.insert("ord", _writer_table([2], ["b"]))
    s1 = c.get_current_snapshot_id("ord")
    client = _client(server)
    cmd = {"command": "get_changes", "table": "ord", "snapshot_id": s1,
           "end_snapshot_id": s0}
    with pytest.raises(flight.FlightError, match="precedes"):
        client.do_get(flight.Ticket(json.dumps(cmd).encode())).read_all()


@pytest.mark.parametrize(
    "case", ["slice_unknown", "slice_expired", "changes_not_int", "changelog_not_int"]
)
def test_bad_ticket_snapshot_id_is_a_server_error(server, case):
    """A ticket naming a snapshot the table does not have (never had, or
    expired) or a snapshot id that is not an integer is refused with a
    FlightServerError, not a raw Python error with the server's traceback."""
    c = server.connector
    c.create_table("ids", _writer_table([1], ["a"]))
    old = c.get_current_snapshot_id("ids")
    c.insert("ids", _writer_table([2], ["b"]))
    if case.startswith("slice"):
        if case == "slice_expired":
            c.table("ids").expire_snapshots(keep_last=1)
        cmd = {"command": "get_slice", "table": "ids", "index": 0, "of": 1,
               "snapshot_id": old if case == "slice_expired" else 123456789}
    else:
        op = {"changes_not_int": "get_changes", "changelog_not_int": "get_changelog"}
        cmd = {"command": op[case], "table": "ids", "snapshot_id": "abc"}
    with pytest.raises(flight.FlightServerError) as err:
        _client(server).do_get(flight.Ticket(json.dumps(cmd).encode())).read_all()
    assert c.catalog.warehouse_path not in str(err.value)


@pytest.mark.parametrize("via", ["table", "wire"])
def test_scan_refuses_more_than_one_time_travel_selector(server, via):
    """snapshot_id, tag and as_of_ms each pin a snapshot; a read given
    two of them is refused on the table API and over the wire alike,
    instead of one selector silently winning."""
    from icerunner_spark.flight.client import read_table_filtered

    c = server.connector
    c.create_table("sel", _writer_table([1], ["a"]))
    s0 = c.get_current_snapshot_id("sel")
    if via == "table":
        with pytest.raises(ValueError, match="at most one"):
            c.table("sel").scan(snapshot_id=s0, as_of_ms=1)
    else:
        with pytest.raises(flight.FlightServerError, match="at most one"):
            read_table_filtered(
                "127.0.0.1", server.port, "sel", [], snapshot_id=s0, as_of_ms=1
            )


def test_get_changes_matches_scan_changes_on_every_range(spark, server):
    """get_changes serves the table's own change ranges: over a history
    with an append, a rename, add_column with a default, a compaction, a
    partition-spec change and a merge-on-read delete, every (start, end)
    pair of snapshot ids gives the same rows on the wire as
    scan_changes, and the wire refuses exactly the pairs the table
    refuses."""
    c = server.connector
    t = c.catalog.table("par")
    t.create(spark.createDataFrame([(0, "a", 0)], "id long, v string, g long"))
    t.append(spark.createDataFrame([(1, "b", 1), (2, "c", 0)], "id long, v string, g long"))
    t.rename_column("v", "label")
    t.add_column("x", "int", default=7)
    t.compact()
    t.update_partition_spec(["g"])
    t.append(spark.createDataFrame(
        [(3, "d", 1, 8), (4, "e", 0, None)], "id long, label string, g long, x int"
    ))
    t.delete_where(F.col("id") == 1, mode="merge-on-read")
    ids = [s.snapshot_id for s in t.snapshots()]
    assert len(ids) == 8
    client = _client(server)
    served = 0
    for start in ids:
        for end in ids:
            try:
                df = t.scan_changes(start, end)
                want = (df.columns, sorted(tuple(r) for r in df.collect()))
            except ValueError:
                want = "refused"
            cmd = {"command": "get_changes", "table": "par",
                   "snapshot_id": start, "end_snapshot_id": end}
            try:
                got = client.do_get(flight.Ticket(json.dumps(cmd).encode())).read_all()
                got = (got.schema.names,
                       sorted(tuple(r.values()) for r in got.to_pylist()))
            except flight.FlightServerError:
                got = "refused"
            assert got == want, (ids.index(start), ids.index(end))
            served += want != "refused"
    assert 0 < served < len(ids) ** 2


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.mark.parametrize("partitioned", [False, True], ids=["plain", "partitioned"])
def test_reads_with_pending_deletes_match_table_scan(spark, server, partitioned):
    """Every table read of a snapshot takes one path, pending deletes or
    not: after positional deletes, equality deletes (one- and
    two-column, a NULL key, a key re-inserted after its delete), a
    rename, add_column with a default and a partition-spec change, the
    raw ticket, a scan ticket with where and columns, and the union of
    the get_slices endpoints each serve exactly IceTable.scan's rows,
    and none of those reads starts a Spark job."""
    c = server.connector
    t = c.catalog.table("dels")
    schema = "id long, k string, v long, g long"

    def rows(lo, hi, *extra):
        return [(i, f"k{i}", i % 7, i % 3, *extra) for i in range(lo, hi)]

    t.create(
        spark.createDataFrame(rows(0, 12) + [(None, "knull", 1, 0)], schema),
        partition_by=["g"] if partitioned else None,
    )
    t.append(spark.createDataFrame(rows(12, 24), schema))
    host, port, client = "127.0.0.1", server.port, _client(server)

    def wire(tbl):
        return sorted((tuple(r.values()) for r in tbl.to_pylist()), key=repr)

    def frame(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    def check(step):
        want = frame(t.scan())
        want_sel = frame(t.scan(where=[("v", ">", 2)]).select("id", "g"))
        before = _job_ids(spark)
        raw = wire(read_table_once(host, port, "dels"))
        sel = wire(read_table_filtered(
            host, port, "dels", [["v", ">", 2]], columns=["id", "g"]
        ))
        info = client.get_flight_info(flight.FlightDescriptor.for_command(
            json.dumps({"command": "get_slices", "table": "dels", "n": 4}).encode()
        ))
        sliced = wire(pa.concat_tables(
            [client.do_get(ep.ticket).read_all() for ep in info.endpoints]
        ))
        assert _job_ids(spark) - before == set(), step
        assert len(info.endpoints) == 4, step
        assert raw == want and sliced == want, step
        assert sel == want_sel, step

    t.delete_where(F.col("v") == 0, mode="merge-on-read")
    check("positional")
    t.delete_rows(
        spark.createDataFrame([(3,), (None,), (15,)], "id long"), ["id"],
        mode="equality",
    )
    check("equality with a null key")
    t.append(spark.createDataFrame([(3, "again", 5, 0)], schema))
    check("re-insert after the equality delete")
    t.delete_rows(
        spark.createDataFrame([(4, "k4"), (16, "k16"), (5, "other")], "id long, k string"),
        ["id", "k"], mode="equality",
    )
    check("two-column equality")
    t.rename_column("k", "label")
    check("rename of a key column")
    t.add_column("x", "int", default=7)
    check("initial default")
    t.update_partition_spec(["v"] if partitioned else ["g"])
    t.append(spark.createDataFrame(
        rows(24, 30, 8), "id long, label string, v long, g long, x int"
    ))
    t.delete_where(F.col("id") % 4 == 1, mode="merge-on-read")
    check("spec change")
    assert len(t.current_snapshot().delete_files) == 2
    assert len(t.current_snapshot().eq_delete_files) == 2


def test_mirror_repairs_after_unpinned_sync(spark, server, tmp_path):
    """ADVICE r2: a pass whose predecessor used an unpinned full read must
    NOT append the incremental delta (possible duplicates) — it repairs by
    full overwrite resync."""
    from icerunner_spark.flight.mirror import SyncState, run_mirror

    c = server.connector
    c.create_table("rep", _writer_table([1, 2], ["a", "b"]))
    target_wh = str(tmp_path / "wh_rep")
    url = f"grpc://127.0.0.1:{server.port}/rep"
    run_mirror(url, target_table="rep", warehouse_path=target_wh,
               continuous=False, spark=spark)
    st = SyncState(target_wh)
    state = st.get_last_sync_state(url, "rep")
    # simulate a legacy-server first pass (no get_slices -> unpinned read)
    state["last_sync_status"] = "success_unpinned"
    st.save_sync_state(url, "rep", state)
    c.insert("rep", _writer_table([3], ["c"]))
    run_mirror(url, target_table="rep", warehouse_path=target_wh,
               continuous=False, spark=spark)
    state2 = st.get_last_sync_state(url, "rep")
    assert state2["last_sync_status"] == "full_resync"  # repaired, re-pinned
    from icerunner_spark.connector import Connector

    tc = Connector(spark, target_wh)
    assert sorted(tc.query("rep").column("id").to_pylist()) == [1, 2, 3]


def test_python_datasource_parallel_read(spark, server):
    """spark.read.format("icerunner_flight"): executors pull disjoint
    snapshot-pinned slices in parallel — result equals a direct read,
    partition count equals the server's slice count."""
    import pyarrow.compute as pc

    from icerunner_spark.sources.flight_source import register_flight_source

    c = server.connector
    n = 5000
    data = pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "value": pa.array([f"v{i % 97}" for i in range(n)], pa.string()),
        }
    )
    c.create_table("pds", data)
    # several snapshots -> several files -> real slicing
    c.insert("pds", _writer_table([n, n + 1], ["x", "y"]))

    register_flight_source(spark)
    url = f"grpc://127.0.0.1:{server.port}/pds"
    df = (
        spark.read.format("icerunner_flight")
        .option("url", url)
        .option("slices", "3")
        .load()
    )
    assert df.schema.fieldNames() == ["id", "value"]
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == n + 2
    got_sum = df.agg({"id": "sum"}).collect()[0][0]
    direct = c.query("pds")
    assert got_sum == pc.sum(direct.column("id")).as_py()
    # projection/filter still correct through the python source
    assert (
        df.filter("id >= 4998").count() == 4
    )  # 4998, 4999 from the base table + the 2 appended rows


def test_python_datasource_legacy_single_endpoint(spark, server):
    """A url whose server lacks get_slices (simulated via table option on
    the for_path fallback) still reads: one partition, same rows."""
    from icerunner_spark.sources.flight_source import FlightDataSource

    c = server.connector
    c.create_table("pds1", _writer_table([1, 2, 3], ["a", "b", "c"]))
    spark.dataSource.register(FlightDataSource)
    df = (
        spark.read.format("icerunner_flight")
        .option("url", f"grpc://127.0.0.1:{server.port}")
        .option("table", "pds1")
        .option("slices", "1")
        .load()
    )
    assert df.rdd.getNumPartitions() == 1
    assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]


def test_python_datasource_stream_cdc(spark, server, tmp_path):
    """readStream over Flight CDC: offsets are snapshot ids. Round 1
    (availableNow) loads the full table; rows appended between rounds
    arrive in round 2 as a get_changes delta — the checkpoint is the
    durable cursor, executors pull the data."""
    from icerunner_spark.sources.flight_source import register_flight_source

    c = server.connector
    c.create_table("cdcstream", _writer_table([1, 2], ["a", "b"]))
    register_flight_source(spark)
    url = f"grpc://127.0.0.1:{server.port}/cdcstream"
    out = str(tmp_path / "cdc_out")
    ckpt = str(tmp_path / "cdc_ckpt")

    def run_round():
        q = (
            spark.readStream.format("icerunner_flight")
            .option("url", url)
            .option("slices", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_round()
    got1 = spark.read.parquet(out)
    assert sorted(r["id"] for r in got1.collect()) == [1, 2]

    c.insert("cdcstream", _writer_table([3], ["c"]))
    c.insert("cdcstream", _writer_table([4], ["d"]))
    run_round()
    got2 = spark.read.parquet(out)
    # exactly the delta arrived — nothing re-read, nothing lost
    assert sorted(r["id"] for r in got2.collect()) == [1, 2, 3, 4]

    run_round()  # no new snapshot -> no new rows
    assert spark.read.parquet(out).count() == 4


def test_python_datasource_append_write(spark, server):
    """df.write.format("icerunner_flight"): each task do_puts its
    partition; rows land on the server (overwrite mode refused)."""
    from icerunner_spark.sources.flight_source import register_flight_source

    c = server.connector
    c.create_table("wsink", _writer_table([0], ["seed"]))
    register_flight_source(spark)
    url = f"grpc://127.0.0.1:{server.port}/wsink"

    # 2 writer partitions on the local[4] test session: do_put tasks BLOCK
    # until the in-process server's insert job finishes, so the writer may
    # never occupy every task slot when server and cluster share one
    # scheduler (production serves from a separate process; see
    # FlightArrowWriter docstring).
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(1, 101)], "id: long, value: string"
    ).repartition(2)
    df.write.format("icerunner_flight").option("url", url).mode("append").save()

    out = c.query("wsink")
    assert out.num_rows == 101
    assert sorted(out.column("id").to_pylist()) == list(range(101))

    import pyspark.errors

    with pytest.raises(Exception, match="append-only"):
        df.write.format("icerunner_flight").option("url", url).mode(
            "overwrite"
        ).save()


def test_mirror_streaming_incremental(spark, server, tmp_path):
    """run_mirror_streaming: the stream checkpoint is the replication
    cursor — first run full-loads, second run moves only the delta,
    third run is a no-op."""
    from icerunner_spark.connector import Connector
    from icerunner_spark.flight.mirror import run_mirror_streaming

    c = server.connector
    c.create_table("ms", _writer_table([1, 2], ["a", "b"]))
    wh = str(tmp_path / "wh_ms")
    url = f"grpc://127.0.0.1:{server.port}/ms"

    assert run_mirror_streaming(url, warehouse_path=wh, spark=spark) == 2
    tc = Connector(spark, wh)
    assert sorted(tc.query("ms").column("id").to_pylist()) == [1, 2]

    c.insert("ms", _writer_table([3], ["c"]))
    assert run_mirror_streaming(url, warehouse_path=wh, spark=spark) == 1
    assert sorted(tc.query("ms").column("id").to_pylist()) == [1, 2, 3]

    assert run_mirror_streaming(url, warehouse_path=wh, spark=spark) == 0
    # target took exactly one snapshot per non-empty batch
    assert len(tc.table("ms").snapshots()) == 2


def test_mirror_streaming_replay_is_idempotent(spark, server, tmp_path):
    """foreachBatch is at-least-once: a crash between the target append
    and Spark's checkpoint commit replays the microbatch on restart. The
    sink stamps (mirror_stream, mirror_batch_id) into snapshot summaries
    and skips already-applied ids, so the replay must NOT duplicate rows.
    Simulated here the worst way possible: wipe the checkpoint entirely
    (offsets AND batch ids reset to zero) and re-run."""
    import shutil

    from icerunner_spark.connector import Connector
    from icerunner_spark.flight.mirror import run_mirror_streaming

    c = server.connector
    c.create_table("msr", _writer_table([1, 2, 3], ["a", "b", "c"]))
    wh = str(tmp_path / "wh_msr")
    url = f"grpc://127.0.0.1:{server.port}/msr"

    assert run_mirror_streaming(url, warehouse_path=wh, spark=spark) == 3
    tc = Connector(spark, wh)
    snaps_before = len(tc.table("msr").snapshots())

    # lose the checkpoint: the source replays from snapshot 0 with
    # batch_id 0 — the stamped high-water mark must swallow it
    ckpt_root = str(tmp_path / "wh_msr" / "sync_state")
    shutil.rmtree(ckpt_root)
    assert run_mirror_streaming(url, warehouse_path=wh, spark=spark) == 0
    assert sorted(tc.query("msr").column("id").to_pylist()) == [1, 2, 3]
    assert len(tc.table("msr").snapshots()) == snaps_before


def test_do_get_serves_renamed_columns(spark, server):
    """Schema evolution over the wire: after rename/add, do_get streams
    LOGICAL column names — pre-rename files resolve through the field-id
    mapping, files lacking a later-added column pad typed nulls."""
    c = server.connector
    c.create_table("evolved", _writer_table([1, 2], ["a", "b"]))
    t = c.table("evolved")
    t.rename_column("value", "label")
    t.add_column("score", "double")
    t.append(
        spark.createDataFrame([(3, "c", 0.5)], "id long, label string, score double")
    )

    out = read_table_once("127.0.0.1", server.port, "evolved")
    assert out.schema.names == ["id", "label", "score"]
    rows = {r["id"]: (r["label"], r["score"]) for r in out.to_pylist()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}

    # get_schema command reports the logical names too
    client = _client(server)
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(
            json.dumps({"command": "get_schema", "table": "evolved"}).encode()
        )
    )
    assert info.schema.names == ["id", "label", "score"]

    # CDC across the rename: only the post-rename append, logical names
    reader = client.do_get(
        flight.Ticket(
            json.dumps({"command": "get_changes", "table": "evolved"}).encode()
        )
    )
    got = reader.read_all()
    assert got.schema.names == ["id", "label", "score"]


def test_do_get_serves_initial_defaults(spark, server):
    """Initial column defaults over the wire: files written BEFORE
    add_column(default=) serve the default (not NULL) on every Flight
    read path, and pushdown predicates on the default column evaluate
    against the default — same answers as IceTable.scan."""
    c = server.connector
    c.create_table("dflt", _writer_table([1, 2], ["a", "b"]))
    t = c.table("dflt")
    t.add_column("score", "double", default=0.5)
    t.append(
        spark.createDataFrame([(3, "c", 9.0)], "id long, value string, score double")
    )

    out = read_table_once("127.0.0.1", server.port, "dflt")
    rows = {r["id"]: r["score"] for r in out.to_pylist()}
    assert rows == {1: 0.5, 2: 0.5, 3: 9.0}

    client = _client(server)

    def _scan(where):
        reader = client.do_get(
            flight.Ticket(
                json.dumps(
                    {"command": "scan", "table": "dflt", "where": where}
                ).encode()
            )
        )
        return {r["id"]: r["score"] for r in reader.read_all().to_pylist()}

    # = on the default keeps the pre-evolution group (rows match via the
    # default); IS NULL matches nothing; > excludes the default rows
    assert _scan([["score", "=", 0.5]]) == {1: 0.5, 2: 0.5}
    assert _scan([["score", "is_null", None]]) == {}
    assert _scan([["score", ">", 1.0]]) == {3: 9.0}
    assert _scan([["score", "is_not_null", None]]) == {1: 0.5, 2: 0.5, 3: 9.0}


def test_mirror_replays_add_column_default(spark, server, tmp_path):
    """add_column(default=) reaches the mirror metadata-only: the
    ICE:default field metadata carries the encoded default, and the
    replayed add_column backfills the mirror's pre-evolution rows —
    without it they'd permanently read NULL (old rows never re-ship)."""
    src = server.connector
    src.create_table("evd", _writer_table([1, 2], ["a", "b"]))
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/evd"
    assert run_mirror(url, target_table="evd_m", warehouse_path=target_wh,
                      continuous=False, spark=spark) == 2

    src.table("evd").add_column("score", "double", default=0.5)
    assert run_mirror(url, target_table="evd_m", warehouse_path=target_wh,
                      continuous=False, spark=spark) == 0
    tgt = Connector(spark, target_wh)
    out = {r["id"]: r["score"] for r in tgt.query("evd_m").to_pylist()}
    assert out == {1: 0.5, 2: 0.5}
    state = SyncState(target_wh).get_last_sync_state(url, "evd_m")
    assert state["last_sync_status"] == "success"


def test_mirror_replays_schema_evolution(spark, server, tmp_path):
    """Source schema evolution reaches the mirror target METADATA-ONLY:
    a rename with no new rows converges without moving data; add_column
    appears on the target and subsequent deltas carry it."""
    src = server.connector
    src.create_table("ev", _writer_table([1, 2], ["a", "b"]))
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/ev"

    n1 = run_mirror(url, target_table="ev_m", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n1 == 2
    tgt = Connector(spark, target_wh)

    # metadata-only rename at source, no appends -> mirror syncs the
    # rename, moves ZERO rows, and data remains queryable under the new name
    src.table("ev").rename_column("value", "label")
    n2 = run_mirror(url, target_table="ev_m", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n2 == 0
    assert [f.name for f in tgt.table("ev_m").schema().fields] == ["id", "label"]
    assert sorted(tgt.query("ev_m").column("label").to_pylist()) == ["a", "b"]
    state = SyncState(target_wh).get_last_sync_state(url, "ev_m")
    assert state["last_sync_status"] == "success"

    # add_column + append -> only the delta moves, new column lands
    src.table("ev").add_column("score", "double")
    src.table("ev").append(
        spark.createDataFrame([(3, "c", 0.5)], "id long, label string, score double")
    )
    n3 = run_mirror(url, target_table="ev_m", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n3 == 1
    out = {r["id"]: (r["label"], r["score"]) for r in tgt.query("ev_m").to_pylist()}
    assert out == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}

    # drop at source -> target drops it too, no rows move
    src.table("ev").drop_column("score")
    n4 = run_mirror(url, target_table="ev_m", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n4 == 0
    assert [f.name for f in tgt.table("ev_m").schema().fields] == ["id", "label"]


def test_mirror_swap_rename_converges(spark, server, tmp_path):
    """A swap-rename (a<->b) leaves the name SET unchanged — only the
    field-id diff can see it. The temp-name two-phase rename must land
    both columns correctly."""
    src = server.connector
    src.create_table(
        "sw",
        pa.table({
            "id": pa.array([1], pa.int64()),
            "a": pa.array(["va"], pa.string()),
            "b": pa.array(["vb"], pa.string()),
        }),
    )
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/sw"
    run_mirror(url, target_table="sw_m", warehouse_path=target_wh,
               continuous=False, spark=spark)

    t = src.table("sw")
    t.rename_column("a", "__swap_tmp")
    t.rename_column("b", "a")
    t.rename_column("__swap_tmp", "b")
    run_mirror(url, target_table="sw_m", warehouse_path=target_wh,
               continuous=False, spark=spark)

    tgt = Connector(spark, target_wh)
    row = tgt.query("sw_m").to_pylist()[0]
    # source now has a='vb', b='va'; the mirror must agree
    src_row = src.query("sw").to_pylist()[0]
    assert (row["a"], row["b"]) == (src_row["a"], src_row["b"]) == ("vb", "va")


def test_do_get_serves_partitioned_table(spark, server):
    """Partition columns live in the directory paths, not the parquet
    files — the server must rebuild them as group-constant columns when
    streaming, including through get_changes."""
    from icerunner_spark.table import IceTable

    c = server.connector
    t = IceTable(spark, c.catalog.table_path("ptab"))
    t.create(
        spark.createDataFrame(
            [(1, "en", "a"), (2, "de", "b")], "id long, lang string, text string"
        ),
        partition_by=["lang"],
    )
    s0 = t.current_snapshot().snapshot_id
    t.append(spark.createDataFrame([(3, "en", "c")], "id long, lang string, text string"))

    out = read_table_once("127.0.0.1", server.port, "ptab")
    assert set(out.schema.names) == {"id", "lang", "text"}
    rows = {r["id"]: r["lang"] for r in out.to_pylist()}
    assert rows == {1: "en", 2: "de", 3: "en"}

    client = _client(server)
    reader = client.do_get(
        flight.Ticket(
            json.dumps(
                {"command": "get_changes", "table": "ptab", "snapshot_id": s0}
            ).encode()
        )
    )
    got = reader.read_all().to_pylist()
    assert [(r["id"], r["lang"]) for r in got] == [(3, "en")]


def test_mirror_replicates_partition_spec(spark, server, tmp_path):
    """The mirror target is created with the SOURCE's partition spec
    (get_metadata advertises it), so the replica prunes like the
    original."""
    from icerunner_spark.table import IceTable

    c = server.connector
    t = IceTable(spark, c.catalog.table_path("psrc"))
    t.create(
        spark.createDataFrame(
            [(1, "en", "a"), (2, "de", "b")], "id long, lang string, text string"
        ),
        partition_by=["lang"],
    )
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/psrc"
    n = run_mirror(url, target_table="psrc_m", warehouse_path=target_wh,
                   continuous=False, spark=spark)
    assert n == 2
    tgt = Connector(spark, target_wh)
    assert tgt.table("psrc_m").partition_spec() == ["lang"]
    assert {r["id"]: r["lang"] for r in tgt.query("psrc_m").to_pylist()} == {
        1: "en", 2: "de"
    }


def test_do_get_applies_merge_on_read_deletes(spark, server):
    """A table with pending positional deletes must stream the
    delete-applied rows, report subtracted totals, and fan get_slices
    out like a clean table, the endpoints together serving the live
    rows; after compaction the zero-copy manifest path serves the same
    rows."""
    c = server.connector
    c.create_table("mor", _writer_table([1, 2, 3, 4], ["a", "b", "c", "d"]))
    t = c.table("mor")
    t.delete_where("id = 2", mode="merge-on-read")

    out = read_table_once("127.0.0.1", server.port, "mor")
    assert sorted(out.column("id").to_pylist()) == [1, 3, 4]

    client = _client(server)
    info = client.get_flight_info(flight.FlightDescriptor.for_path(b"mor"))
    assert info.total_records == 3  # footer total minus delete positions

    slices = client.get_flight_info(
        flight.FlightDescriptor.for_command(
            json.dumps({"command": "get_slices", "table": "mor", "n": 4}).encode()
        )
    )
    assert len(slices.endpoints) > 1
    got = [
        i
        for ep in slices.endpoints
        for i in client.do_get(ep.ticket).read_all().column("id").to_pylist()
    ]
    assert sorted(got) == [1, 3, 4]

    t.compact()
    out2 = read_table_once("127.0.0.1", server.port, "mor")
    assert sorted(out2.column("id").to_pylist()) == [1, 3, 4]


def test_mirror_stays_incremental_across_mor_delete(spark, server, tmp_path):
    """A merge-on-read delete at the source no longer forces a full
    resync (the r4 failure mode — every continuous-clean maintenance
    pass made the mirror re-ship the whole table): the append-only
    get_changes refuses, and the mirror applies the ROW-LEVEL changelog
    (inserts + value-deletes) instead. Only a true overwrite still
    resyncs (test_mirror_full_resync_after_source_overwrite)."""
    src = server.connector
    src.create_table("md", _writer_table([1, 2, 3], ["a", "b", "c"]))
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/md"
    run_mirror(url, target_table="md_m", warehouse_path=target_wh,
               continuous=False, spark=spark)

    src.table("md").delete_where("id = 2", mode="merge-on-read")
    run_mirror(url, target_table="md_m", warehouse_path=target_wh,
               continuous=False, spark=spark)
    tgt = Connector(spark, target_wh)
    assert sorted(tgt.query("md_m").column("id").to_pylist()) == [1, 3]
    state = SyncState(target_wh).get_last_sync_state(url, "md_m")
    assert state["last_sync_status"] == "success_changelog"


def test_get_changelog_roundtrip(spark, server):
    """Server-side get_changelog: insert/delete rows with _change_type,
    over a range containing a MOR delete (where get_changes errors)."""
    c = server.connector
    c.create_table("clt", _writer_table([1, 2, 3], ["a", "b", "c"]))
    s0 = c.get_current_snapshot_id("clt")
    c.insert("clt", _writer_table([4], ["d"]))
    c.table("clt").delete_where("id in (1, 4)", mode="merge-on-read")

    client = _client(server)
    with pytest.raises(flight.FlightServerError, match="append-only"):
        client.do_get(
            flight.Ticket(
                json.dumps(
                    {"command": "get_changes", "table": "clt", "snapshot_id": s0}
                ).encode()
            )
        ).read_all()
    got = client.do_get(
        flight.Ticket(
            json.dumps(
                {"command": "get_changelog", "table": "clt", "snapshot_id": s0}
            ).encode()
        )
    ).read_all()
    changes = sorted((r["id"], r["_change_type"]) for r in got.to_pylist())
    assert changes == [(1, "delete"), (4, "delete"), (4, "insert")]
    # lineage flag: rows gain _row_id — the delete names the ORIGINAL
    # identity (position 0 of the create commit), the insert its fresh one
    lin = client.do_get(
        flight.Ticket(
            json.dumps(
                {"command": "get_changelog", "table": "clt",
                 "snapshot_id": s0, "lineage": True}
            ).encode()
        )
    ).read_all()
    by = {(r["id"], r["_change_type"]): r["_row_id"] for r in lin.to_pylist()}
    assert by[(1, "delete")] == 0
    assert by[(4, "insert")] == by[(4, "delete")] == 3
    # get_flight_info advertises the widened schema
    info = client.get_flight_info(
        flight.FlightDescriptor.for_command(
            json.dumps(
                {"command": "get_changelog", "table": "clt", "snapshot_id": s0}
            ).encode()
        )
    )
    assert info.schema.field("_change_type").type == pa.string()


def test_mirror_incremental_across_continuous_clean_cycles(spark, server, tmp_path):
    """The r4 composition gap, end to end: a mirrored source under the
    continuous-clean loop (append -> CDC dedup -> MOR positional delete
    of losers, per dedup_maintenance_pass) must stay INCREMENTAL across
    >= 2 clean cycles — no full-resync fallback — and converge to the
    source rows after every sync."""
    from icerunner_spark.operators.incremental import dedup_maintenance_pass
    from icerunner_spark.table import IceTable

    src = server.connector
    t = IceTable(spark, src.catalog.table_path("corpus"))
    t.create(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        )
    )
    cursor = t.current_snapshot().snapshot_id
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/corpus"
    run_mirror(url, target_table="corpus_m", warehouse_path=target_wh,
               continuous=False, spark=spark)
    tgt = Connector(spark, target_wh)
    state = SyncState(target_wh)

    for batch in (
        [(3, "alpha"), (4, "gamma")],   # 3 duplicates doc 1 -> deleted
        [(5, "gamma"), (6, "delta")],   # 5 duplicates doc 4 -> deleted
    ):
        t.append(spark.createDataFrame(batch, "doc_id long, text string"))
        _, cursor = dedup_maintenance_pass(t, cursor)
        run_mirror(url, target_table="corpus_m", warehouse_path=target_wh,
                   continuous=False, spark=spark)
        st = state.get_last_sync_state(url, "corpus_m")
        assert st["last_sync_status"] in ("success", "success_changelog")
        assert not st["last_sync_status"].startswith("full_resync")
        src_rows = sorted(
            (r.doc_id, r.text) for r in t.scan().collect()
        )
        tgt_rows = sorted(
            (r["doc_id"], r["text"]) for r in tgt.query("corpus_m").to_pylist()
        )
        assert tgt_rows == src_rows
    # both cycles actually exercised the changelog path
    assert state.get_last_sync_state(url, "corpus_m")[
        "last_sync_status"
    ] == "success_changelog"


def test_crafted_slice_tickets_no_duplication_with_pending_deletes(spark, server):
    """Clients that craft i-of-n get_slice tickets themselves (the
    streaming CDC source's initial load does) must not receive the full
    delete-applied table PER SLICE: with merge-on-read deletes pending,
    each slice applies the deletes of its own files, so the slices stay
    disjoint and together hold the live rows. Regression test —
    a fresh streaming mirror of a maintained table previously received
    n copies of every row."""
    c = server.connector
    c.create_table("sdup", _writer_table([1, 2, 3, 4], ["a", "b", "c", "d"]))
    t = c.table("sdup")
    t.delete_where("id = 2", mode="merge-on-read")
    sid = t.current_snapshot().snapshot_id
    client = _client(server)
    got = []
    for i in range(4):
        ticket = flight.Ticket(
            json.dumps(
                {
                    "command": "get_slice",
                    "table": "sdup",
                    "index": i,
                    "of": 4,
                    "snapshot_id": sid,
                }
            ).encode()
        )
        got += client.do_get(ticket).read_all().column("id").to_pylist()
    assert sorted(got) == [1, 3, 4]


def test_streaming_mirror_initial_load_with_pending_deletes(spark, server, tmp_path):
    """End-to-end regression: a FRESH streaming mirror of a table with
    pending merge-on-read deletes must converge to exactly the live rows
    (previously each of the source's crafted slices returned the whole
    table, duplicating it slice-count times)."""
    from icerunner_spark.flight.mirror import run_mirror_streaming

    c = server.connector
    c.create_table("smor", _writer_table([1, 2, 3], ["a", "b", "c"]))
    c.table("smor").delete_where("id = 3", mode="merge-on-read")
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/smor"
    n = run_mirror_streaming(
        url, target_table="smor_s", warehouse_path=target_wh, spark=spark
    )
    assert n == 2
    tgt = Connector(spark, target_wh)
    assert sorted(tgt.query("smor_s").column("id").to_pylist()) == [1, 2]


def test_mirror_incremental_across_equality_delete(spark, server, tmp_path):
    """Equality deletes (the O(keys) flavor) ride the same changelog
    path: the mirror applies them value-based and stays incremental."""
    from icerunner_spark.table import IceTable

    src = server.connector
    t = IceTable(spark, src.catalog.table_path("eqsrc"))
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/eqsrc"
    run_mirror(url, target_table="eq_m", warehouse_path=target_wh,
               continuous=False, spark=spark)
    t.delete_rows(
        spark.createDataFrame([(2,)], "id long"), ["id"], mode="equality"
    )
    run_mirror(url, target_table="eq_m", warehouse_path=target_wh,
               continuous=False, spark=spark)
    tgt = Connector(spark, target_wh)
    assert sorted(tgt.query("eq_m").column("id").to_pylist()) == [1, 3]
    state = SyncState(target_wh).get_last_sync_state(url, "eq_m")
    assert state["last_sync_status"] == "success_changelog"


def test_scan_predicate_pushdown(spark, warehouse, server):
    """Server-side predicate pushdown (``scan`` command / ``where`` on
    slices): the server prunes the file list against manifest column
    bounds and partition values, then a pyarrow dataset filter keeps rows
    exact — a filtered table leaves the server as O(matching rows) with
    Spark never engaged on the clean path."""
    import datetime

    from icerunner_spark.flight.client import (
        read_table_filtered,
        read_table_parallel,
    )

    c = server.connector
    rows = [
        (k, f"s{k % 5}", float(k), datetime.date(1995 + (k % 3), 1 + (k % 12), 5))
        for k in range(400)
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double, d date")
    t = c.catalog.table("push_t")
    t.create(df.filter("k < 200").repartition(3))
    t.append(df.filter("k >= 200").repartition(3))

    host, port = "127.0.0.1", server.port
    got = read_table_filtered(host, port, "push_t", [["k", ">=", 50], ["k", "<", 90]])
    assert sorted(got.column("k").to_pylist()) == list(range(50, 90))
    # ISO date strings decode through the snapshot schema
    cut = datetime.date(1997, 1, 1)
    got = read_table_filtered(host, port, "push_t", [["d", ">=", "1997-01-01"]])
    assert got.num_rows == df.filter(F.col("d") >= F.lit(cut)).count()
    got = read_table_filtered(host, port, "push_t", [["k", "in", [5, 250, 399]]])
    assert sorted(got.column("k").to_pylist()) == [5, 250, 399]
    # parallel slices with where: disjoint, exhaustive, pruned fan-out
    got = read_table_parallel(host, port, "push_t", n_streams=4, where=[["k", "<", 120]])
    assert sorted(got.column("k").to_pylist()) == list(range(120))
    # unknown column -> clean server error
    with pytest.raises(flight.FlightServerError, match="unknown column"):
        read_table_filtered(host, port, "push_t", [["nope", "=", 1]])


@pytest.mark.parametrize("pred", [["price", "=", None], ["price", ">", "abc"],
                                  ["price", "in", [None]]])
def test_scan_ticket_refuses_undecodable_decimal_literal(server, pred):
    """A where literal that is no decimal reaches the client as a server
    error naming the column, not as an internal error."""
    import decimal

    from icerunner_spark.flight.client import read_table_filtered

    server.connector.create_table("dec_t", pa.table({
        "k": pa.array(range(8), pa.int64()),
        "price": pa.array([decimal.Decimal(i) / 4 for i in range(8)], pa.decimal128(10, 2)),
    }))
    with pytest.raises(flight.FlightServerError, match="column price"):
        read_table_filtered("127.0.0.1", server.port, "dec_t", [pred])
    got = read_table_filtered("127.0.0.1", server.port, "dec_t", [["price", ">", "1.25"]])
    assert sorted(got.column("k").to_pylist()) == [6, 7]


def test_scan_pushdown_survives_rename_partition_and_deletes(spark, warehouse, server):
    """The pushdown composes with the format's features: renamed columns
    filter under their physical names per file group, identity-partition
    predicates resolve against group-constant path values, hidden
    (transform) partitioning prunes server-side, and pending merge-on-read
    deletes fall back to the Spark residual path — all row-exact."""
    import datetime

    from icerunner_spark.flight.client import read_table_filtered

    c = server.connector
    rows = [
        (k, f"s{k % 5}", float(k), datetime.date(1995 + (k % 3), 1 + (k % 12), 5))
        for k in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double, d date")
    host, port = "127.0.0.1", server.port

    t2 = c.catalog.table("push_part")
    t2.create(df.select("k", "s", "v"), partition_by=["s"])
    t2.rename_column("v", "val")
    t2.append(spark.createDataFrame([(5000, "s9", 1.25)], "k long, s string, val double"))
    got = read_table_filtered(host, port, "push_part", [["s", "=", "s9"]])
    assert got.column("val").to_pylist() == [1.25]
    got = read_table_filtered(
        host, port, "push_part", [["val", ">", 200.0], ["s", "=", "s2"]]
    )
    assert got.num_rows == df.filter((F.col("v") > 200) & (F.col("s") == "s2")).count()

    t3 = c.catalog.table("push_mor")
    t3.create(df.select("k", "s"))
    t3.delete_where(F.col("k") % 2 == 0, mode="merge-on-read")
    got = read_table_filtered(host, port, "push_mor", [["k", "<", 10]])
    assert sorted(got.column("k").to_pylist()) == [1, 3, 5, 7, 9]

    t4 = c.catalog.table("push_hidden")
    t4.create(df, partition_by=["bucket(8, k)", "month(d)"])
    got = read_table_filtered(host, port, "push_hidden", [["k", "=", 77]])
    assert got.column("k").to_pylist() == [77]


def test_python_datasource_filter_pushdown(spark, warehouse, server):
    """Catalyst -> wire filter pushdown (Spark 4.1 Python DataSource
    pushFilters): supported conjuncts ride the get_slices ticket, the
    server prunes files + filters rows, and the absorbed filters need no
    Spark re-check (no Filter node above the scan). Unsupported filters
    stay Spark-side; results stay exact either way."""
    import datetime

    from icerunner_spark.sources.flight_source import (
        _filter_to_conjunct,
        register_flight_source,
    )

    # unit: Filter -> ticket conjunct conversion
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, In, IsNull, StringContains,
    )

    assert _filter_to_conjunct(EqualTo(("k",), 5)) == ["k", "=", 5]
    assert _filter_to_conjunct(
        GreaterThan(("d",), datetime.date(1997, 1, 1))
    ) == ["d", ">", "1997-01-01"]
    assert _filter_to_conjunct(In(("k",), (1, 2))) == ["k", "in", [1, 2]]
    assert _filter_to_conjunct(IsNull(("k",))) == ["k", "is_null", None]
    assert _filter_to_conjunct(StringContains(("s",), "x")) is None
    assert _filter_to_conjunct(EqualTo(("a", "b"), 1)) is None  # nested col

    c = server.connector
    rows = [
        (k, f"s{k % 5}", datetime.date(1995 + (k % 3), 1 + (k % 12), 5))
        for k in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, s string, d date")
    t = c.catalog.table("push_src")
    t.create(df.filter("k < 150").repartition(2))
    t.append(df.filter("k >= 150").repartition(2))

    register_flight_source(spark)
    src = (
        spark.read.format("icerunner_flight")
        .option("url", f"grpc://127.0.0.1:{server.port}/push_src")
        .option("slices", "3")
        .load()
    )
    got = src.filter((F.col("k") >= 40) & (F.col("k") < 90))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.k for r in got.collect()) == list(range(40, 90))
    # fully absorbed: no Spark-side Filter node remains in the plan
    assert "Filter (" not in plan and "Filter [" not in plan
    # date conjuncts decode server-side through the snapshot schema
    cut = datetime.date(1997, 1, 1)
    assert (
        src.filter(F.col("d") >= F.lit(cut)).count()
        == df.filter(F.col("d") >= F.lit(cut)).count()
    )
    # a filter the wire can't express stays with Spark, result still exact
    mixed = src.filter(F.col("s").contains("s") & (F.col("k") < 5))
    assert mixed.count() == 5


def test_python_datasource_stream_changelog(spark, server, tmp_path):
    """readStream with option("changelog", "true"): a change data feed
    (rows + _change_type) that SURVIVES merge-on-read maintenance — a
    MOR delete between rounds arrives as delete rows in the next
    microbatch instead of failing the append-only stream. Initial load
    labels every baseline row insert."""
    from pyspark.sql import functions as SF

    from icerunner_spark.sources.flight_source import register_flight_source

    c = server.connector
    c.create_table("cdf_src", _writer_table([1, 2, 3], ["a", "b", "c"]))
    register_flight_source(spark)
    url = f"grpc://127.0.0.1:{server.port}/cdf_src"
    out = str(tmp_path / "cdf_out")
    ckpt = str(tmp_path / "cdf_ckpt")

    def run_round():
        q = (
            spark.readStream.format("icerunner_flight")
            .option("url", url)
            .option("slices", "2")
            .option("changelog", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_round()
    feed = spark.read.parquet(out)
    assert set(feed.columns) == {"id", "value", "_change_type"}
    assert {(r.id, r._change_type) for r in feed.collect()} == {
        (1, "insert"), (2, "insert"), (3, "insert"),
    }

    # maintenance between rounds: append + MOR delete in range
    c.insert("cdf_src", _writer_table([4], ["d"]))
    t = c.table("cdf_src")
    t.delete_where(SF.col("id") == 2, mode="merge-on-read")
    run_round()
    feed2 = spark.read.parquet(out)
    got = {(r.id, r._change_type) for r in feed2.collect()}
    assert (4, "insert") in got and (2, "delete") in got
    # replaying the feed rebuilds the table state exactly
    state = (
        feed2.withColumn("w", SF.when(SF.col("_change_type") == "delete", -1).otherwise(1))
        .groupBy("id", "value").agg(SF.sum("w").alias("n"))
        .where(SF.col("n") > 0)
    )
    assert sorted(r.id for r in state.collect()) == [1, 3, 4]

    # batch reads refuse the streaming-only option with a clear error
    with pytest.raises(Exception, match="changelog"):
        (
            spark.read.format("icerunner_flight")
            .option("url", url)
            .option("changelog", "true")
            .load()
            .collect()
        )


def test_mirror_replays_partition_spec_evolution(spark, server, tmp_path):
    """A source update_partition_spec between syncs replays onto the
    target (metadata-only, like schema evolution): the replica adopts
    the new layout for FUTURE appends while its existing dirs keep
    their own spec — and the delta rows still move incrementally."""
    from icerunner_spark.table import IceTable

    c = server.connector
    t = IceTable(spark, c.catalog.table_path("evsrc"))
    t.create(
        spark.createDataFrame(
            [(1, "en", "a"), (2, "de", "b")], "id long, lang string, text string"
        )
    )
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/evsrc"
    n = run_mirror(url, target_table="ev_m", warehouse_path=target_wh,
                   continuous=False, spark=spark)
    assert n == 2
    tgt = Connector(spark, target_wh)
    assert tgt.table("ev_m").partition_spec() == []

    # source evolves its layout, then appends under the new spec
    t.update_partition_spec(["lang"])
    t.append(
        spark.createDataFrame([(3, "fr", "c")], "id long, lang string, text string")
    )
    n2 = run_mirror(url, target_table="ev_m", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n2 == 1  # still incremental — spec replay is metadata-only
    assert tgt.table("ev_m").partition_spec() == ["lang"]
    assert {r["id"]: r["lang"] for r in tgt.query("ev_m").to_pylist()} == {
        1: "en", 2: "de", 3: "fr",
    }
    # the replica's NEXT append lands under the replicated layout and prunes
    tgt.insert("ev_m", pa.table({
        "id": pa.array([4], pa.int64()),
        "lang": pa.array(["es"], pa.string()),
        "text": pa.array(["d"], pa.string()),
    }))
    tt = tgt.table("ev_m")
    assert {r.id for r in tt.scan(where=[("lang", "=", "es")]).collect()} == {4}
    assert len(tt.plan_files([("lang", "=", "es")])) < len(
        tt.current_snapshot().manifest
    )


def test_scan_column_projection(spark, warehouse, server):
    """Column projection on the serve path (``columns`` on scan /
    get_slices tickets): only the requested column chunks are decoded and
    cross the wire, in table-schema order regardless of request order;
    predicates may name columns outside the projection; unknown columns
    error loudly. At 100 TB a 2-column read of a 100-column fact table
    must not ship 98 dead columns per row."""
    from icerunner_spark.flight.client import (
        read_table_filtered,
        read_table_parallel,
    )

    c = server.connector
    df = spark.createDataFrame(
        [(k, f"s{k % 5}", float(k), f"pad{k}") for k in range(300)],
        "k long, s string, v double, pad string",
    )
    t = c.catalog.table("proj_t")
    t.create(df.filter("k < 150").repartition(2))
    t.append(df.filter("k >= 150").repartition(2))

    host, port = "127.0.0.1", server.port
    # request order is normalized to table-schema order
    got = read_table_filtered(host, port, "proj_t", [], columns=["v", "k"])
    assert got.schema.names == ["k", "v"]
    assert got.num_rows == 300
    assert sorted(got.column("k").to_pylist()) == list(range(300))
    # predicate on a column OUTSIDE the projection still filters rows
    got = read_table_filtered(
        host, port, "proj_t", [["s", "=", "s2"], ["k", "<", 50]], columns=["v"]
    )
    assert got.schema.names == ["v"]
    assert sorted(got.column("v").to_pylist()) == [float(k) for k in range(2, 50, 5)]
    # parallel slices carry the projection on every ticket
    got = read_table_parallel(
        host, port, "proj_t", n_streams=3, where=[["k", "<", 120]], columns=["k"]
    )
    assert got.schema.names == ["k"]
    assert sorted(got.column("k").to_pylist()) == list(range(120))
    with pytest.raises(flight.FlightServerError, match="unknown columns"):
        read_table_filtered(host, port, "proj_t", [], columns=["nope"])


def test_scan_projection_evolved_partitioned_and_mor(spark, warehouse, server):
    """Projection composes with the format: renamed columns project under
    their physical names per file group, identity-partition columns are
    served from path values inside a projection, initial defaults fill
    projected columns older files lack, and pending merge-on-read deletes
    apply inside the projected stream with the same projected shape."""
    from icerunner_spark.flight.client import read_table_filtered

    c = server.connector
    df = spark.createDataFrame(
        [(k, f"s{k % 3}", float(k)) for k in range(90)],
        "k long, s string, v double",
    )
    t = c.catalog.table("proj_evo")
    t.create(df, partition_by=["s"])
    t.rename_column("v", "val")
    t.add_column("flag", "string", default="new")
    t.append(
        spark.createDataFrame(
            [(900, "s9", 9.5, "fresh")], "k long, s string, val double, flag string"
        )
    )
    host, port = "127.0.0.1", server.port
    got = read_table_filtered(
        host, port, "proj_evo", [["k", ">=", 88]], columns=["val", "flag", "s"]
    )
    assert got.schema.names == ["s", "val", "flag"]
    by_val = {r["val"]: r for r in got.to_pylist()}
    assert by_val[88.0]["flag"] == "new" and by_val[88.0]["s"] == "s1"
    assert by_val[9.5]["flag"] == "fresh" and by_val[9.5]["s"] == "s9"

    # pending MOR deletes: projection holds while the deletes apply
    t.delete_where(F.col("k") % 2 == 1, mode="merge-on-read")
    got = read_table_filtered(
        host, port, "proj_evo", [["k", "<", 10]], columns=["k"]
    )
    assert got.schema.names == ["k"]
    assert sorted(got.column("k").to_pylist()) == [0, 2, 4, 6, 8]


def test_python_datasource_column_projection(spark, warehouse, server):
    """.option("columns", ...) on the icerunner_flight source: the
    advertised schema is the projection, every slice ticket carries it
    (only those column chunks move), and the streaming reader refuses the
    option rather than mis-shaping the change feed."""
    from icerunner_spark.sources.flight_source import register_flight_source

    register_flight_source(spark)
    c = server.connector
    df = spark.createDataFrame(
        [(k, f"s{k}", float(k)) for k in range(40)], "k long, s string, v double"
    )
    c.catalog.table("proj_ds").create(df.repartition(2))

    url = f"grpc://127.0.0.1:{server.port}/proj_ds"
    out = (
        spark.read.format("icerunner_flight")
        .option("url", url)
        .option("columns", "v,k")
        .load()
    )
    assert out.columns == ["k", "v"]
    assert out.count() == 40
    assert {r.k for r in out.filter("v >= 35.0").collect()} == {35, 36, 37, 38, 39}

    with pytest.raises(Exception, match="unknown columns"):
        spark.read.format("icerunner_flight").option("url", url).option(
            "columns", "k,zz"
        ).load().collect()

    # streamReader is constructed at stream START, so assert the guard on
    # the source class directly (CDC streams move whole change rows)
    from icerunner_spark.sources.flight_source import FlightDataSource

    ds = FlightDataSource(options={"url": url, "columns": "k"})
    with pytest.raises(ValueError, match="batch-read option"):
        ds.streamReader(None)


def test_scan_ticket_time_travel(spark, warehouse, server):
    """Remote VERSION / TIMESTAMP AS OF: the scan ticket pins a snapshot
    id, a named tag, or a wall-clock timestamp; predicates and
    projection compose with the pinned snapshot's own schema/manifest."""
    from icerunner_spark.flight.client import read_table_filtered

    c = server.connector
    t = c.catalog.table("tt_scan")
    t.create(spark.createDataFrame([(k, f"v{k}") for k in range(10)],
                                   "id long, v string"))
    s0 = t.current_snapshot()
    t.create_tag("v1")
    t.append(spark.createDataFrame([(10, "v10")], "id long, v string"))
    t.delete_where("id < 3", mode="merge-on-read")
    t.compact()

    host, port = "127.0.0.1", server.port
    cur = read_table_filtered(host, port, "tt_scan", [])
    assert sorted(cur.column("id").to_pylist()) == list(range(3, 11))
    old = read_table_filtered(host, port, "tt_scan", [], snapshot_id=s0.snapshot_id)
    assert sorted(old.column("id").to_pylist()) == list(range(10))
    tagged = read_table_filtered(
        host, port, "tt_scan", [["id", ">=", 8]], tag="v1", columns=["id"]
    )
    assert tagged.schema.names == ["id"]
    assert sorted(tagged.column("id").to_pylist()) == [8, 9]
    as_of = read_table_filtered(
        host, port, "tt_scan", [], as_of_ms=s0.timestamp_ms
    )
    assert as_of.num_rows == 10
    with pytest.raises(flight.FlightServerError, match="no such tag"):
        read_table_filtered(host, port, "tt_scan", [], tag="nope")
    with pytest.raises(flight.FlightServerError, match="no snapshot"):
        read_table_filtered(host, port, "tt_scan", [], as_of_ms=1)


def test_scan_negated_predicates_over_wire(spark, warehouse, server):
    """!=, not_in and between ride scan tickets and the data source's
    Not(...) pushdown; server results stay row-exact."""
    from icerunner_spark.flight.client import read_table_filtered
    from icerunner_spark.sources.flight_source import (
        _filter_to_conjunct,
        register_flight_source,
    )
    from pyspark.sql.datasource import EqualTo, In, IsNull, Not

    c = server.connector
    c.catalog.table("neg_t").create(
        spark.createDataFrame([(k, f"s{k % 3}") for k in range(60)],
                              "k long, s string")
    )
    host, port = "127.0.0.1", server.port
    got = read_table_filtered(host, port, "neg_t", [["s", "!=", "s0"]])
    assert {r["k"] for r in got.to_pylist()} == {k for k in range(60) if k % 3}
    got = read_table_filtered(
        host, port, "neg_t", [["k", "between", [10, 14]], ["s", "not_in", ["s0"]]]
    )
    assert sorted(r["k"] for r in got.to_pylist()) == [10, 11, 13, 14]

    assert _filter_to_conjunct(Not(EqualTo(("s",), "s0"))) == ["s", "!=", "s0"]
    assert _filter_to_conjunct(Not(In(("k",), (1, 2)))) == ["k", "not_in", [1, 2]]
    assert _filter_to_conjunct(Not(IsNull(("k",)))) is None  # stays Spark-side

    register_flight_source(spark)
    out = (
        spark.read.format("icerunner_flight")
        .option("url", f"grpc://127.0.0.1:{port}/neg_t")
        .load()
        .filter("s != 's0' AND k NOT IN (4, 5)")
    )
    assert {r.k for r in out.collect()} == {
        k for k in range(60) if k % 3 and k not in (4, 5)
    }


def test_mirror_replicates_table_properties(spark, server, tmp_path):
    """Source table properties follow the mirror (initial sync AND
    later changes), additively: target-local keys survive. This is what
    makes a replica self-maintaining — maintenance.* policy and
    write-path config arrive with the rows."""
    c = server.connector
    c.create_table("props_src", _writer_table([1, 2], ["a", "b"]))
    t = c.table("props_src")
    t.set_properties({
        "maintenance.small-file-rows": "100",
        "write.sort.columns": "id",
    })
    target_wh = str(tmp_path / "target_wh")
    url = f"grpc://127.0.0.1:{server.port}/props_src"
    n = run_mirror(url, target_table="props_m", warehouse_path=target_wh,
                   continuous=False, spark=spark)
    assert n == 2
    tgt = Connector(spark, target_wh)
    got = tgt.table("props_m").current_snapshot().properties
    assert got.get("maintenance.small-file-rows") == "100"
    assert got.get("write.sort.columns") == "id"

    # a target-local knob survives subsequent syncs (additive contract)
    tgt.table("props_m").set_properties({"local.only": "keep"})
    # source changes a property and appends; the next sync carries both
    t.set_properties({"maintenance.small-file-rows": "250"})
    c.insert("props_src", _writer_table([3], ["c"]))
    n2 = run_mirror(url, target_table="props_m", warehouse_path=target_wh,
                    continuous=False, spark=spark)
    assert n2 == 1
    got2 = tgt.table("props_m").current_snapshot().properties
    assert got2.get("maintenance.small-file-rows") == "250"
    assert got2.get("local.only") == "keep"


# ---------------------------------------------------------------- serve plans


def _cmd_descriptor(cmd: dict) -> flight.FlightDescriptor:
    return flight.FlightDescriptor.for_command(json.dumps(cmd).encode())


def _serve_answers(port: int, name: str) -> dict:
    """What a client sees of one table through info, a projected scan, a
    full get and get_slices — schemas with their field metadata, totals,
    rows sorted by id, and the slice tickets."""
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    info = client.get_flight_info(flight.FlightDescriptor.for_path(name.encode()))
    cols = info.schema.names[:2]
    scan = client.do_get(
        flight.Ticket(
            json.dumps(
                {"command": "scan", "table": name,
                 "where": [["id", ">=", 2]], "columns": cols}
            ).encode()
        )
    ).read_all()
    got = client.do_get(flight.Ticket(name.encode())).read_all()
    sl = client.get_flight_info(
        _cmd_descriptor({"command": "get_slices", "table": name, "n": 2})
    )
    parts = [client.do_get(ep.ticket).read_all() for ep in sl.endpoints]
    slices = pa.concat_tables(parts) if parts else None
    client.close()
    return {
        "info": (info.schema, info.total_records, info.total_bytes),
        "scan": (scan.schema, scan.sort_by("id").to_pylist()),
        "get": (got.schema, got.sort_by("id").to_pylist()),
        "slices": (
            sl.schema, sl.total_records, sl.total_bytes,
            [ep.ticket.ticket for ep in sl.endpoints],
            slices.schema, slices.sort_by("id").to_pylist(),
        ),
    }


def _assert_same_answers(warm: dict, fresh: dict) -> None:
    for kind in warm:
        w, f = warm[kind], fresh[kind]
        assert len(w) == len(f), kind
        for a, b in zip(w, f):
            if isinstance(a, pa.Schema):
                assert a.equals(b, check_metadata=True), (kind, a, b)
            else:
                assert a == b, kind


@pytest.mark.parametrize("mutation", ["do_put", "add_column", "rename", "mor_delete_compact"])
def test_warm_server_answers_like_fresh_server(spark, warehouse, server, mutation):
    """Serve plans are cached per snapshot, never per table: after each
    kind of commit, a server that already answered for the old snapshot
    answers every read RPC exactly like a freshly started server."""
    c = server.connector
    c.create_table("fresh", _writer_table([0, 1, 2, 3], ["a", "b", "c", "d"]))
    c.insert("fresh", _writer_table([4, 5, 6], ["e", "f", "g"]))
    t = c.table("fresh")
    before = _serve_answers(server.port, "fresh")  # plans for the old snapshot

    if mutation == "do_put":
        steps = [lambda: write_batch(
            "127.0.0.1", server.port, "fresh", _writer_table([7, 8], ["h", "i"])
        )]
    elif mutation == "add_column":
        steps = [lambda: t.add_column("score", "double", default=0.5)]
    elif mutation == "rename":
        steps = [lambda: t.rename_column("value", "label")]
    else:
        steps = [
            lambda: t.delete_where(F.col("id") % 2 == 0, mode="merge-on-read"),
            lambda: t.compact(),
        ]
    for step in steps:
        step()
        warm = _serve_answers(server.port, "fresh")
        fresh_srv = IceFlightServer(Connector(spark, warehouse), host="127.0.0.1", port=0)
        try:
            fresh = _serve_answers(fresh_srv.port, "fresh")
        finally:
            fresh_srv.shutdown()
        _assert_same_answers(warm, fresh)
        assert warm != before  # the commit is visible, not a stale plan


def test_plan_cache_stays_bounded(server):
    """More commits than the plan LRU holds: the cache keeps at most
    PLAN_CACHE_SIZE plans, and every answer reflects its commit."""
    from icerunner_spark.flight import server as server_mod

    c = server.connector
    c.create_table("many", _writer_table([1, 2], ["a", "b"]))
    t = c.table("many")
    client = _client(server)
    for i in range(server_mod.PLAN_CACHE_SIZE + 3):
        t.set_properties({"round": str(i)})  # a metadata-only commit
        meta = client.do_get(
            flight.Ticket(json.dumps({"command": "get_metadata", "table": "many"}).encode())
        ).read_all().to_pydict()
        assert meta["snapshot_id"][0] == t.current_snapshot().snapshot_id
        assert json.loads(meta["properties"][0]) == {"round": str(i)}
        assert meta["total_rows"][0] == 2
        assert len(server._plans) <= server_mod.PLAN_CACHE_SIZE
    assert len(server._plans) == server_mod.PLAN_CACHE_SIZE


@pytest.mark.parametrize("rpc", ["info", "get_metadata", "get_slices"])
def test_reply_describes_one_snapshot_despite_racing_commit(spark, server, monkeypatch, rpc):
    """A commit that lands mid-RPC, right after the RPC's first snapshot
    read, must not mix table versions in the reply: the snapshot id,
    schema and totals all describe the snapshot that read returned."""
    c = server.connector
    c.create_table("race", _writer_table([1, 2], ["a", "b"]))
    first = c.table("race").current_snapshot()
    real_table = c.table
    fired = []

    def racing_table(name):
        t = real_table(name)
        read = t.current_snapshot

        def current_snapshot():
            snap = read()
            if not fired:
                fired.append(snap.snapshot_id)
                h = real_table(name)
                h.add_column("score", "double")
                h.append(spark.createDataFrame(
                    [(3, "c", 1.0)], "id long, value string, score double"
                ))
            return snap

        t.current_snapshot = current_snapshot
        return t

    client = _client(server)
    monkeypatch.setattr(c, "table", racing_table)
    if rpc == "info":
        info = client.get_flight_info(flight.FlightDescriptor.for_path(b"race"))
        names, rows = info.schema.names, info.total_records
    elif rpc == "get_metadata":
        meta = client.do_get(
            flight.Ticket(json.dumps({"command": "get_metadata", "table": "race"}).encode())
        ).read_all().to_pydict()
        assert meta["snapshot_id"][0] == first.snapshot_id
        names, rows = ["id", "value"], meta["total_rows"][0]
    else:
        sl = client.get_flight_info(
            _cmd_descriptor({"command": "get_slices", "table": "race", "n": 2})
        )
        pinned = {json.loads(ep.ticket.ticket)["snapshot_id"] for ep in sl.endpoints}
        assert pinned == {first.snapshot_id}
        names, rows = sl.schema.names, sl.total_records
        got = pa.concat_tables([client.do_get(ep.ticket).read_all() for ep in sl.endpoints])
        assert got.schema.names == ["id", "value"]
        assert sorted(got.column("id").to_pylist()) == [1, 2]
    assert fired == [first.snapshot_id]  # the commit did land mid-RPC
    assert names == ["id", "value"]
    assert rows == 2
    # the next RPC sees the commit
    info = client.get_flight_info(flight.FlightDescriptor.for_path(b"race"))
    assert info.schema.names == ["id", "value", "score"]
    assert info.total_records == 3


def test_slice_ticket_pinned_to_older_snapshot(server, monkeypatch):
    """A get_slice ticket names its snapshot: after newer commits it still
    serves that snapshot's rows. A ticket pinned to the CURRENT snapshot
    resolves without walking the table's history."""
    from icerunner_spark.table import IceTable

    c = server.connector
    c.create_table("pin", _writer_table([1, 2], ["a", "b"]))
    c.insert("pin", _writer_table([3], ["c"]))
    client = _client(server)
    cmd = {"command": "get_slices", "table": "pin", "n": 2}
    old = client.get_flight_info(_cmd_descriptor(cmd))
    c.insert("pin", _writer_table([4, 5], ["d", "e"]))
    got = pa.concat_tables([client.do_get(ep.ticket).read_all() for ep in old.endpoints])
    assert sorted(got.column("id").to_pylist()) == [1, 2, 3]

    cur = client.get_flight_info(_cmd_descriptor(cmd))

    def no_history(self):
        raise AssertionError("history walk for the current snapshot")

    monkeypatch.setattr(IceTable, "snapshots", no_history)
    got = pa.concat_tables([client.do_get(ep.ticket).read_all() for ep in cur.endpoints])
    assert sorted(got.column("id").to_pylist()) == [1, 2, 3, 4, 5]
