"""The three workloads. Each is a closed loop: every client sends its next
request only after the previous reply, from one process, each client
thread on its own Flight connection to an in-process ``IceFlightServer``
bound to 127.0.0.1 on an ephemeral port.

A workload object is built once per run (``prepare`` makes the seeded
inputs, untimed), then ``setup`` builds a fresh warehouse, starts the
server and warms every op kind (timed as set-up), and ``run`` measures a
window and checks every result. ``teardown`` stops the server and removes
the warehouse.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import shutil
import threading
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.flight as flight
import pyarrow.parquet as pq

from icerunner_spark.connector import Connector, arrow_to_df
from icerunner_spark.flight.mirror import SyncState, perform_sync
from icerunner_spark.flight.server import IceFlightServer

from perfbench import inputs, stats


class Op:
    """One client request: kind, wall times (perf_counter seconds), time
    of the first reply batch, rows and Arrow bytes moved, outcome."""

    __slots__ = ("kind", "start", "ttfb", "end", "rows", "nbytes", "ok", "error")

    def __init__(self, kind, start, ttfb, end, rows=0, nbytes=0, ok=True, error=None):
        self.kind, self.start, self.ttfb, self.end = kind, start, ttfb, end
        self.rows, self.nbytes, self.ok, self.error = rows, nbytes, ok, error

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


# HotSpot's JIT compiler threads, as /proc names them (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of process ``pid``."""
    ticks = 0
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, fields = stat[stat.index("(") + 1:stat.rindex(")")], stat.rsplit(")", 1)[1].split()
        if name in JIT_THREADS:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


class Context:
    """What every workload needs: the Spark session, a private work dir
    inside the checkout, the seed, and (traced run only) the tracer."""

    def __init__(self, work: Path, seed: int):
        self.work, self.seed = work, seed
        self.spark = None  # set once the session is up; prepare() runs before
        self.tracer = None

    @staticmethod
    def cpu_seconds() -> float:
        """CPU time (user + system) of this process and every descendant
        still alive: the Spark JVM and its Python workers, with the
        children each has reaped (the JVM runs short-lived helper
        commands). Time the host steals from the machine is not in it,
        unlike wall time. This process's own time is read from its
        nanosecond clock, not in /proc's 10 ms ticks.

        The JVM's JIT compiler threads are left out; every other thread,
        GC included, stays in. In six analytics passes after a warm-up
        pass they used 40-65% of the JVM's CPU (2.3 to 6.5 CPU seconds a
        pass on 4 vCPUs), falling only slowly, and their share moved from
        pass to pass with no change in the work. The compiler threads are
        kept alive for this (``_isolate`` turns off HotSpot's dynamic
        compiler threads), so their time stays readable."""
        parent, cpu = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            parent[int(d)] = int(fields[1])
            cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        me = os.getpid()
        tree, grew = {me}, True
        while grew:
            kids = {p for p, pp in parent.items() if pp in tree} - tree
            tree |= kids
            grew = bool(kids)
        reaped = os.times()
        own = time.process_time() + reaped.children_user + reaped.children_system
        ticks = sum(cpu.get(p, 0) - _jit_ticks(p) for p in tree - {me})
        return own + ticks / os.sysconf("SC_CLK_TCK")

    def tagged(self, kind: str, name: str, fn, *args):
        """Run ``fn`` as a client-side span, with the Spark jobs it starts
        in job group ``name`` (traced run only)."""
        if self.tracer is None or not self.tracer.enabled:
            return fn(*args)
        self.spark.sparkContext.setJobGroup(name, name)
        return self.tracer.record(kind, name, fn, *args)


class Window:
    """Outcome of one measured window."""

    def __init__(self, ops, wall_s, cpu_s):
        self.ops: list[Op] = ops
        self.wall_s = wall_s
        self.cpu_s = cpu_s  # CPU seconds of the process tree over the window
        self.checks: list[Op] = []  # end-of-window correctness checks
        self.passes_ms: list[float] = []  # analytics: complete pass durations
        self.round_cpu_ms: list[float] = []  # CPU ms per op of each round (serve_read) or pass (analytics)
        self.extra: dict[str, tuple[float, str, int]] = {}  # name -> (value, unit, n)

    @classmethod
    def joined(cls, parts: list[Window]) -> Window:
        """One window made of windows measured one after another."""
        assert not any(p.extra for p in parts)
        w = cls([o for p in parts for o in p.ops], sum(p.wall_s for p in parts), sum(p.cpu_s for p in parts))
        w.checks = [c for p in parts for c in p.checks]
        w.passes_ms = [x for p in parts for x in p.passes_ms]
        w.round_cpu_ms = [x for p in parts for x in p.round_cpu_ms]
        return w

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops) + sum(not o.ok for o in self.checks)

    def lat(self, kind: str) -> list[float]:
        return [o.ms for o in self.ops if o.kind == kind and o.ok]


def _pull(client, ticket, keep: bool = False):
    """Drain one ticket: (time of first batch, rows, Arrow bytes, table?)."""
    reader = client.do_get(ticket)
    first = None
    rows = nbytes = 0
    batches = []
    while True:
        try:
            batch = reader.read_chunk().data
        except StopIteration:
            break
        if first is None:
            first = time.perf_counter()
        rows += batch.num_rows
        nbytes += batch.nbytes
        if keep:
            batches.append(batch)
    table = pa.Table.from_batches(batches, schema=reader.schema) if keep else None
    return first, rows, nbytes, table


def _cmd(cmd: dict) -> flight.FlightDescriptor:
    return flight.FlightDescriptor.for_command(json.dumps(cmd).encode())


def _closed_loops(loops) -> list[Op]:
    """Run each ``loop()`` (returns its ops) on its own thread; re-raise
    the first failure of a loop itself (op failures are recorded, not
    raised)."""
    results: list = [None] * len(loops)
    errors: list = []

    def body(i, fn):
        try:
            results[i] = fn()
        except Exception as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=body, args=(i, fn)) for i, fn in enumerate(loops)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return [op for ops in results for op in ops]


def _raise_failed(what: str, ops) -> None:
    bad = [o for o in ops if not o.ok]
    if bad:
        raise RuntimeError(f"{what} {bad[0].kind} failed: {bad[0].error}")


def _timed(kind: str, fn) -> Op:
    """Run one op; an exception or a wrong answer is a failed op."""
    start = time.perf_counter()
    try:
        ttfb, rows, nbytes, ok = fn()
        end = time.perf_counter()
        return Op(kind, start, ttfb or end, end, rows, nbytes, ok, None if ok else "wrong result")
    except Exception as e:  # noqa: BLE001 - an op failure is a measured outcome
        now = time.perf_counter()
        return Op(kind, start, now, now, ok=False, error=f"{type(e).__name__}: {e}")


class Workload:
    name = ""
    read_kind = ""  # op kind whose latency the traced run reports as server.read.*
    spark_free = False  # True: a Spark job in the traced window is a failed check
    # True: the untraced window is measured in parts, one after each set-up,
    # so that it samples the whole run rather than one stretch of it
    split_window = False

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.server: IceFlightServer | None = None
        self.dirs: list[Path] = []
        self.clients: dict[str, int] = {}

    @property
    def spark(self):
        return self.ctx.spark

    def fresh_dir(self, *parts) -> Path:
        d = self.ctx.work.joinpath("wh", *parts)
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        self.dirs.append(d)
        return d

    def connect(self) -> flight.FlightClient:
        return flight.connect(f"grpc://127.0.0.1:{self.server.port}")

    def teardown(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server = None
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)
        self.dirs = []

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """One-time warm-up after the first set-up, outside setup_s
        (reported as ``warmup_s`` in the run line)."""

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def run(self, seconds: float) -> Window:
        raise NotImplementedError

    def prune_probe(self) -> tuple[str, list]:
        """A table and predicate whose ``explain_scan`` the per-layer run
        reports, with that table's storage layout."""
        raise NotImplementedError


# ---------------------------------------------------------------- serve_read
class ServeRead(Workload):
    name = "serve_read"
    read_kind = "scan"
    spark_free = True  # no pending deletes: the serve path runs no Spark job
    split_window = True
    N_CLIENTS = 2
    LINEITEM_FILES = 60
    # op mix per block of 20 ops, shuffled per block: every run draws the
    # same proportions, so seeds differ in keys and order, not in mix
    MIX = (("scan_li", 7), ("scan_ev", 6), ("get", 2), ("slices", 2), ("info", 3))
    ROUND_OPS = 20  # ops per client per round: one MIX block
    WARM_ROUNDS = 2

    def prepare(self):
        seed = self.ctx.seed
        tpch = inputs.tpch(seed, 0.1)
        self.lineitem = tpch["lineitem"]
        self.orders = tpch["orders"]
        self.events = inputs.events(inputs.rng(seed, 5), 100_000, 0)
        # lineitem is stored clustered by l_orderkey in LINEITEM_FILES files
        d = self.ctx.work / "inputs" / "lineitem"
        d.mkdir(parents=True, exist_ok=True)
        n = self.lineitem.num_rows
        self.li_chunks = []
        for i in range(self.LINEITEM_FILES):
            lo, hi = i * n // self.LINEITEM_FILES, (i + 1) * n // self.LINEITEM_FILES
            p = d / f"part-{i:03d}.parquet"
            pq.write_table(self.lineitem.slice(lo, hi - lo), p)
            self.li_chunks.append(p)
        # pyarrow answers for every ticket, from the generated tables
        self.li_keys = self.lineitem.column("l_orderkey").to_numpy()
        et = np.asarray(self.events.column("event_type").to_pylist())
        uid = self.events.column("user_id").to_numpy()
        self.ev_users = {t: np.sort(uid[et == t]) for t in inputs.EVENT_TYPES}
        self.totals = {"lineitem": n, "orders": self.orders.num_rows, "events": self.events.num_rows}
        self.clients = {"flight_clients": self.N_CLIENTS}

    def _plan(self, g: np.random.Generator):
        """Endless seeded op stream: (kind, request, expected rows)."""
        block = [k for k, n in self.MIX for _ in range(n)]
        while True:
            g.shuffle(block)
            for kind in block:
                yield self._op(g, kind)

    def _op(self, g: np.random.Generator, kind: str):
        keys = self.li_keys
        if kind == "scan_li":
            lo = int(g.integers(0, 150_000 - 4_000))
            hi = lo + int(g.integers(1_000, 4_000))
            exp = int(np.searchsorted(keys, hi) - np.searchsorted(keys, lo))
            return "scan", {"command": "scan", "table": "lineitem",
                            "where": [["l_orderkey", ">=", lo], ["l_orderkey", "<", hi]],
                            "columns": ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"]}, exp
        if kind == "scan_ev":
            et = inputs.EVENT_TYPES[int(g.integers(0, len(inputs.EVENT_TYPES)))]
            lo = int(g.integers(0, 1_500 - 400))
            hi = lo + int(g.integers(100, 400))
            u = self.ev_users[et]
            exp = int(np.searchsorted(u, hi) - np.searchsorted(u, lo))
            return "scan", {"command": "scan", "table": "events",
                            "where": [["event_type", "=", et], ["user_id", ">=", lo], ["user_id", "<", hi]],
                            "columns": ["event_id", "user_id", "event_type", "value"]}, exp
        if kind == "get":
            return "get", "orders", self.totals["orders"]
        if kind == "slices":
            lo = int(g.integers(0, 150_000 - 20_000))
            hi = lo + int(g.integers(10_000, 20_000))
            exp = int(np.searchsorted(keys, hi) - np.searchsorted(keys, lo))
            return "slice", {"command": "get_slices", "table": "lineitem", "n": 4,
                             "where": [["l_orderkey", ">=", lo], ["l_orderkey", "<", hi]]}, exp
        t = ("lineitem", "orders", "events")[int(g.integers(0, 3))]
        return "info", t, self.totals[t]

    def _exec(self, client, kind, req, expected) -> Op:
        def go():
            if kind == "scan":
                first, rows, nbytes, _ = _pull(client, flight.Ticket(json.dumps(req).encode()))
            elif kind == "get":
                first, rows, nbytes, _ = _pull(client, flight.Ticket(req.encode()))
            elif kind == "slice":
                info = client.get_flight_info(_cmd(req))
                first, rows, nbytes = None, 0, 0
                for ep in info.endpoints:
                    f, r, b, _ = _pull(client, ep.ticket)
                    first = first or f
                    rows, nbytes = rows + r, nbytes + b
            else:
                info = client.get_flight_info(flight.FlightDescriptor.for_path(req.encode()))
                first, rows, nbytes = None, info.total_records, 0
            return first, rows, nbytes, rows == expected

        return _timed(kind, go)

    def setup(self, rep):
        wh = self.fresh_dir(f"serve-{rep}")
        c = Connector(self.spark, str(wh))
        li = c.table("lineitem")
        li.create(arrow_to_df(self.spark, pq.read_table(self.li_chunks[0])).coalesce(1))
        li.add_files([str(p) for p in self.li_chunks[1:]])
        c.create_table("events", self.events, partition_by=["event_type"])
        c.create_table("orders", self.orders)
        self.connector = c
        self.server = IceFlightServer(c, host="127.0.0.1", port=0)
        client = self.connect()
        warm = self._plan(inputs.rng(self.ctx.seed, 9))
        seen: set = set()
        while len(seen) < 4:
            kind, req, exp = next(warm)
            _raise_failed("warm-up", [self._exec(client, kind, req, exp)])
            seen.add(kind)
        client.close()

    def run(self, seconds):
        """Rounds of one MIX block per client, the clients meeting at the
        end of each round, where the process-tree CPU is read. WARM_ROUNDS
        unmeasured rounds come first; then whole rounds run until
        ``seconds`` have passed, so every window has the same mix. CPU per
        op is taken per round and the window reports the median over
        rounds: a burst of load on a shared host moves a few rounds, not
        the figure."""
        warm, per_round = self.WARM_ROUNDS, self.N_CLIENTS * self.ROUND_OPS
        marks = [(time.perf_counter(), self.ctx.cpu_seconds())]  # (wall, CPU) at each round's end
        more = [True]

        def end_round():
            marks.append((time.perf_counter(), self.ctx.cpu_seconds()))
            more[0] = len(marks) <= warm + 1 or marks[-1][0] - marks[warm][0] < seconds

        round_end = threading.Barrier(self.N_CLIENTS, action=end_round)

        def loop(i):
            def body():
                client, ops = self.connect(), []
                plan = self._plan(inputs.rng(self.ctx.seed, 10, i))
                try:
                    while more[0]:
                        ops.append([self._exec(client, *next(plan)) for _ in range(self.ROUND_OPS)])
                        round_end.wait()
                except BaseException:
                    round_end.abort()  # release the other client
                    raise
                finally:
                    client.close()
                return [op for r in ops[warm:] for op in r]
            return body

        ops = _closed_loops([loop(i) for i in range(self.N_CLIENTS)])
        w = Window(ops, marks[-1][0] - marks[warm][0], marks[-1][1] - marks[warm][1])
        w.round_cpu_ms = [(b[1] - a[1]) * 1e3 / per_round for a, b in zip(marks[warm:], marks[warm + 1:])]
        return w

    def prune_probe(self):
        return "lineitem", [("l_orderkey", ">=", 70_000), ("l_orderkey", "<", 72_500)]


# ------------------------------------------------------------- ingest_mirror
class IngestMirror(Workload):
    name = "ingest_mirror"
    read_kind = "scan"
    INITIAL_ROWS = 50_000
    HISTORY_COMMITS = 250  # puts during the run push the segment chain past 256
    HISTORY_ROWS = 20
    PUT_ROWS = 5_000
    PUT_ID0 = 1_000_000
    ROUND_PUTS = 10  # puts per mirror sync: one sync per 10 commits
    SCANS_PER_PUT = 20  # about as many scans as fit in one put's time (~20 ms scans, ~0.5 s puts)
    ROUND_SECONDS = 2.5  # nominal round length: a window of S seconds runs S / ROUND_SECONDS rounds

    def prepare(self):
        seed = self.ctx.seed
        self.initial = inputs.events(inputs.rng(seed, 6), self.INITIAL_ROWS, 0)
        d = self.ctx.work / "inputs" / "history"
        d.mkdir(parents=True, exist_ok=True)
        self.history = []
        for i in range(self.HISTORY_COMMITS):
            p = d / f"h{i:03d}.parquet"
            first = self.INITIAL_ROWS + i * self.HISTORY_ROWS
            pq.write_table(inputs.events(inputs.rng(seed, 8, i), self.HISTORY_ROWS, first), p)
            self.history.append(str(p))
        self.warm_batch = inputs.events(inputs.rng(seed, 11), self.PUT_ROWS, self.PUT_ID0 - self.PUT_ROWS)
        self.clients = {"writers": 1, "readers": 1, "mirrors": 1}

    def _batch(self, i: int) -> pa.Table:
        return inputs.events(inputs.rng(self.ctx.seed, 7, i), self.PUT_ROWS, self.PUT_ID0 + i * self.PUT_ROWS)

    def _scans(self, g):
        """Pruned scans over the initial rows: ids are dense there, so the
        expected count is the width of the key range, whatever commits."""
        while True:
            w = int(g.integers(500, 3_000))
            lo = int(g.integers(0, self.INITIAL_ROWS - w))
            yield {"command": "scan", "table": "hot",
                   "where": [["event_id", ">=", lo], ["event_id", "<", lo + w]],
                   "columns": ["event_id", "user_id", "value"]}, w

    def _scan(self, client, req, exp) -> Op:
        def go():
            first, rows, nbytes, _ = _pull(client, flight.Ticket(json.dumps(req).encode()))
            return first, rows, nbytes, rows == exp
        return _timed("scan", go)

    def _put(self, client, batch) -> Op:
        def go():
            writer, _ = client.do_put(flight.FlightDescriptor.for_path(b"hot"), batch.schema)
            writer.write_table(batch)
            sent = time.perf_counter()
            writer.close()
            return sent, batch.num_rows, batch.nbytes, True
        return _timed("put", go)

    def _sync(self, client) -> tuple[Op, dict]:
        holder = {}

        def go():
            moved = self.ctx.tagged("mirror", "mirror.sync", perform_sync, client, self.url, "hot",
                                    "hot_mirror", self.mirror, self.sync_state)
            holder.update(self.sync_state.get_last_sync_state(self.url, "hot_mirror"))
            return None, moved, 0, True

        op = _timed("sync", go)
        return op, holder

    def setup(self, rep):
        base = self.fresh_dir(f"ingest-{rep}")
        c = Connector(self.spark, str(base / "source"))
        c.create_table("hot", self.initial)
        t = c.table("hot")
        for p in self.history:
            t.add_files([p])
        self.connector, self.table = c, t
        self.server = IceFlightServer(c, host="127.0.0.1", port=0)
        self.url = f"grpc://127.0.0.1:{self.server.port}/hot"
        self.mirror = Connector(self.spark, str(base / "mirror"))
        self.sync_state = SyncState(self.mirror.catalog.warehouse_path)
        client = self.connect()
        _raise_failed("warm-up", [
            self._put(client, self.warm_batch),
            self._scan(client, *next(self._scans(inputs.rng(self.ctx.seed, 9)))),
            self._sync(client)[0],
        ])
        client.close()
        self.base_rows = self.INITIAL_ROWS + self.HISTORY_COMMITS * self.HISTORY_ROWS + self.PUT_ROWS
        self.base_seq = t.current_snapshot().sequence

    def run(self, seconds):
        """Rounds, each with the same mix: the writer's ROUND_PUTS puts,
        then one sync that carries them, while the reader runs
        SCANS_PER_PUT scans per put; each role on its own thread and
        connection. The window is a fixed number of rounds, not a time:
        the table grows with every round, so a window that ran more
        rounds on faster code would cost more per op."""
        rounds = max(1, round(seconds / self.ROUND_SECONDS))
        cpu0, t0 = self.ctx.cpu_seconds(), time.perf_counter()
        syncs: list[tuple[Op, dict]] = []
        ended = itertools.count(1)
        done = [False]

        def end_round():
            done[0] = next(ended) >= rounds

        round_end = threading.Barrier(3, action=end_round)
        puts_done = threading.Barrier(2)  # writer -> mirror, within a round

        def role(step):
            def body():
                client, ops = self.connect(), []
                try:
                    while not done[0]:
                        step(client, ops)
                        round_end.wait()
                except BaseException:
                    round_end.abort()  # release the other roles
                    puts_done.abort()
                    raise
                finally:
                    client.close()
                return ops
            return body

        batches = itertools.count()
        plan = self._scans(inputs.rng(self.ctx.seed, 12))

        def write(client, ops):
            for _ in range(self.ROUND_PUTS):
                ops.append(self._put(client, self._batch(next(batches))))
            puts_done.wait()

        def read(client, ops):
            for _ in range(self.ROUND_PUTS * self.SCANS_PER_PUT):
                ops.append(self._scan(client, *next(plan)))

        def mirror(client, ops):
            puts_done.wait()
            op, state = self._sync(client)
            ops.append(op)
            syncs.append((op, state))

        ops = _closed_loops([role(write), role(read), role(mirror)])
        w = Window(ops, max(o.end for o in ops) - t0, self.ctx.cpu_seconds() - cpu0)
        client = self.connect()
        final = self._sync(client)
        client.close()
        w.checks.append(final[0])
        self._check(w, syncs, final)
        return w

    def _check(self, w: Window, syncs, final) -> None:
        """End-of-window answers: source rows = initial + every acked put,
        mirror rows = source rows after a final sync; then the put-to-sync
        lag join. The mirror.* figures describe the window's syncs."""
        puts = [o for o in w.ops if o.kind == "put" and o.ok]
        acked = sum(o.rows for o in puts)
        now = time.perf_counter()
        src = self.connector.count("hot")
        dst = self.mirror.count("hot_mirror")
        snaps = self.table.snapshots()
        seq_of = {s.snapshot_id: s.sequence for s in snaps}
        commits = [s for s in snaps if s.sequence > self.base_seq and s.operation == "append"]
        for ok, error in (
            (src == self.base_rows + acked, f"source rows {src} != {self.base_rows} + {acked}"),
            (dst == src, f"mirror rows {dst} != source {src}"),
            (len(commits) == len(puts), f"{len(commits)} append commits for {len(puts)} acked puts"),
        ):
            w.checks.append(Op("check", now, now, now, ok=ok, error=None if ok else error))
        put_seqs = [(o.end, s.sequence) for o, s in zip(sorted(puts, key=lambda o: o.end), commits)]
        lags, missed = stats.mirror_lags(
            put_seqs, [(op.end, seq_of.get(st.get("source_snapshot_id"))) for op, st in syncs + [final] if op.ok]
        )
        rows_of_seq = {s.sequence: self.PUT_ROWS for s in commits}
        moved = committed = 0
        prev = self.base_seq
        full = 0
        sync_ms, sync_rows = [], []
        for op, st in syncs:
            if not op.ok:
                continue
            seq = seq_of.get(st.get("source_snapshot_id"), prev)
            committed += sum(r for q, r in rows_of_seq.items() if prev < q <= seq)
            moved += op.rows
            prev = max(prev, seq)
            full += str(st.get("last_sync_status", "")).startswith("full_resync")
            sync_ms.append(op.ms)
            sync_rows.append(op.rows)
        stored = sum(
            os.path.getsize(os.path.join(self.table.path, f)) for s in commits for f in s.added_files
        )
        in_bytes = sum(o.nbytes for o in puts)
        n = len(puts)
        w.extra.update({
            "ingest_rows_per_s": (acked / w.wall_s, "rows/s", n),
            "mirror_lag_s": (stats.median(lags), "s", len(lags)),
            "mirror_unsynced_puts": (missed, "count", n),
            "stored_bytes_per_input_byte": (stored / in_bytes if in_bytes else None, "ratio", n),
            "mirror.sync_ms": (stats.median(sync_ms), "ms", len(sync_ms)),
            "mirror.rows_per_sync": (stats.median(sync_rows), "rows", len(sync_rows)),
            "mirror.moved_per_committed": (moved / committed if committed else None, "ratio", len(sync_ms)),
            "mirror.full_resyncs": (full, "count", len(sync_ms)),
            "put.files_per_commit": (
                sum(len(s.added_files) for s in commits) / len(commits) if commits else None,
                "files", len(commits)),
        })

    def prune_probe(self):
        return "hot", [("event_id", ">=", 20_000), ("event_id", "<", 22_000)]


# ----------------------------------------------------------------- analytics
SQL = {
    "sql_q1": """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    "sql_q3": """
        SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority""",
}
# registry entries run in-process each pass: the banded MinHash-LSH
# near-duplicate operator
ENTRIES = ("dedup_minhash_lsh",)
FLOAT_REL_TOL = 1e-9
FLOAT_ABS_TOL = 1e-6


def _norm_rows(table: pa.Table) -> list[tuple]:
    """Rows as sorted tuples, timestamps as integer microseconds."""
    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        cols.append(col.to_pylist())
    rows = list(zip(*cols)) if cols else []
    return sorted(rows, key=lambda r: tuple((v is None, v) for v in r))


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Equal as multisets of rows; floats within FLOAT_REL_TOL/ABS_TOL."""
    if got.num_columns != want.num_columns:
        return False
    a, b = _norm_rows(got), _norm_rows(want)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL):
                    return False
            elif x != y:
                return False
    return True


def row_hash(rows) -> str:
    """Order-independent hash of collected Spark rows."""
    return hashlib.sha256(repr(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


class Analytics(Workload):
    name = "analytics"
    read_kind = "sql"
    split_window = True
    SF = 0.01
    DOCS = 500
    PASS_SECONDS = 3.0  # nominal warm pass length: a window of S seconds runs S / PASS_SECONDS passes
    # After one warm-up pass, the next pass still used about 35% more CPU
    # than passes after the second set-up; after two, about 20% more
    WARM_PASSES = 2

    def prepare(self):
        import duckdb

        from icerunner_spark import queries

        seed = self.ctx.seed
        self.tables = inputs.tpch(seed, self.SF)
        self.fixtures = self.ctx.work / "inputs" / "analytics"
        self.fixtures.mkdir(parents=True, exist_ok=True)
        for name, t in {**self.tables, "documents": inputs.documents(seed, self.DOCS)}.items():
            pq.write_table(t, self.fixtures / f"{name}.parquet")
        con = duckdb.connect()
        try:
            for name in self.tables:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.fixtures / name}.parquet')"
                )
            self.expected = {k: con.execute(q).fetch_arrow_table() for k, q in SQL.items()}
        finally:
            con.close()
        self.registry = queries.queries()
        self.hashes: dict[str, str] = {}
        self.clients = {"flight_clients": 1}

    def _sql(self, client, key) -> Op:
        def go():
            info = client.get_flight_info(_cmd({"sql": SQL[key]}))
            first, rows, nbytes, table = _pull(client, info.endpoints[0].ticket, keep=True)
            return first, rows, nbytes, same_rows(table, self.expected[key])
        return _timed("sql", go)

    def _entry(self, name) -> Op:
        def go():
            rows = self.ctx.tagged("queries", f"query.{name}",
                                   lambda: self.registry[name](self.spark, str(self.fixtures)).collect())
            h = row_hash(rows)
            ok = self.hashes.setdefault(name, h) == h
            return None, len(rows), 0, ok
        return _timed(f"query.{name}", go)

    def _pass(self, client) -> list[Op]:
        return [self._sql(client, key) for key in SQL] + [self._entry(name) for name in ENTRIES]

    def setup(self, rep):
        wh = self.fresh_dir(f"analytics-{rep}")
        c = Connector(self.spark, str(wh))
        for name, t in self.tables.items():
            c.create_table(name, t)
        self.server = IceFlightServer(c, host="127.0.0.1", port=0)
        client = self.connect()
        _raise_failed("warm-up", [self._info(client, name) for name in self.tables])
        client.close()

    def _info(self, client, name) -> Op:
        def go():
            info = client.get_flight_info(flight.FlightDescriptor.for_path(name.encode()))
            return None, info.total_records, 0, info.total_records == self.tables[name].num_rows
        return _timed("info", go)

    def warm(self):
        """WARM_PASSES whole passes. The first trial of each SQL ticket and
        registry entry in a process runs about twice as slow, and the
        entries' row hashes become the reference the measured passes are
        checked against."""
        client = self.connect()
        for _ in range(self.WARM_PASSES):
            ops = self._pass(client)
            _raise_failed("warm-up", ops)
        client.close()

    def run(self, seconds):
        """A fixed number of whole passes, not a time: each pass in a
        process runs faster than the one before, so a window that ran
        more passes on faster code would cost less per op."""
        cpu0, t0 = self.ctx.cpu_seconds(), time.perf_counter()
        client = self.connect()
        ops: list[Op] = []
        passes, pass_cpu = [], []
        for _ in range(max(1, round(seconds / self.PASS_SECONDS))):
            start, cpu = time.perf_counter(), self.ctx.cpu_seconds()
            done = self._pass(client)
            pass_cpu.append((self.ctx.cpu_seconds() - cpu) * 1e3 / len(done))
            passes.append((time.perf_counter() - start) * 1e3)
            ops += done
        client.close()
        w = Window(ops, max(o.end for o in ops) - t0, self.ctx.cpu_seconds() - cpu0)
        w.passes_ms, w.round_cpu_ms = passes, pass_cpu
        return w

    def prune_probe(self):
        return "lineitem", [("l_orderkey", ">=", 5_000), ("l_orderkey", "<", 6_000)]


WORKLOADS = {w.name: w for w in (ServeRead, IngestMirror, Analytics)}
