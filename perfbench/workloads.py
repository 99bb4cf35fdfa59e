"""The workloads. Each one sets up, runs a closed loop with one client
for the measured window, and checks every answer it got.

A workload fills the Run it is given with its timed calls, its failures and
the extra figures (set-up seconds, heap, space) that `run.py` turns into
metrics.
"""
import glob
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check
import gen
from client import Mcp

AGENT_SF, LAKE_SF = 0.05, 0.02
SIDE_TABLES = 2
AGENT_CYCLES = 1  # a cycle is 20 calls, about 22 s at local[4]
# A lake round is about 35 calls: about 15 s cold, 8 s in the second round and
# 6-7.5 s from the third on at local[4], as the JIT compiles the write paths.
# The window starts past the steep part of that curve.
LAKE_WARM_ROUNDS = 2
LAKE_ROUNDS = 2


class Run:
    """What one run saw: calls as dicts (kind, ms, ok, bytes, traced)."""

    def __init__(self, server, work, seed, seconds, trace, t_launch):
        self.server, self.work, self.seed = server, work, seed
        self.seconds, self.trace, self.t_launch = seconds, trace, t_launch
        self.calls, self.failures, self.extra = [], [], {}
        self.untimed = 0  # checked calls outside the window (warm-up, restart check)
        self.traced = False

    def mark(self, part):
        """Record the seconds since the previous mark under setup_parts."""
        now = time.perf_counter()
        parts = self.extra.setdefault("setup_parts", {})
        parts[part] = now - getattr(self, "_last_mark", self.t_launch)
        self._last_mark = now

    def fail(self, what):
        self.failures.append(what)

    def record(self, kind, seconds, ok, nbytes, steal_s, **kw):
        c = dict(kind=kind, ms=seconds * 1000.0, ok=ok, bytes=nbytes, traced=self.traced,
                 steal_s=steal_s, **kw)
        if not self.traced and steal_s > CALL_STEAL_LIMIT * seconds:
            c["stolen"] = True
        self.calls.append(c)
        return c

    def phases(self):
        """The measured window as (traced, deadline) halves: untraced only,
        or an untraced half then a traced half when tracing is asked for."""
        if not self.trace:
            return [(False, self.seconds)]
        return [(False, self.seconds / 2.0), (True, self.seconds / 2.0)]

    def begin(self, traced):
        self.server.cmd("trace", "on" if traced else "off")
        self.traced = traced

    def telemetry(self):
        return self.server.cmd("proc")


# A call during which the host stole more than CALL_STEAL_LIMIT of a second
# per wall second (host steal from /proc/stat, summed over the CPUs) timed
# the host, not the program: in an untraced window its sample is left out
# and kept in the artifact as stolen. The agent's calls are reads, so such
# a call is made again, up to CALL_ATTEMPTS times while the window has spent
# under RETRY_BUDGET_S on repeats. A write cannot be repeated: lake_writes
# leaves the sample out. An op left with no clean sample keeps its
# least-stolen one.
CALL_STEAL_LIMIT = 0.05
CALL_ATTEMPTS = 3
RETRY_BUDGET_S = 5.0


def _keep_least_stolen(calls):
    by_op = {}
    for c in calls:
        by_op.setdefault(c.get("op", c["kind"]), []).append(c)
    for cs in by_op.values():
        if all(c.get("stolen") for c in cs):
            del min(cs, key=lambda c: c["steal_s"] / c["ms"])["stolen"]


def _window(run, step, min_steps=0, restart=lambda: None):
    """Call step() until the phase deadline, at least min_steps times (half
    as many in each half of a traced run). restart() puts the input stream
    back to its start, so both halves of a traced run see the same calls."""
    windows = []
    if run.trace:
        min_steps = max(1, min_steps // 2)
    for traced, secs in run.phases():
        restart()
        run.begin(traced)
        first = len(run.calls)
        p0 = run.telemetry()
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < secs or n < min_steps:
            step()
            n += 1
        wall = time.perf_counter() - t0
        p1 = run.telemetry()
        _keep_least_stolen(run.calls[first:])
        windows.append(dict(
            traced=traced, wall_s=wall, steps=n, cpu_s=p1["cpu_s"] - p0["cpu_s"],
            steal_s=p1["steal_s"] - p0["steal_s"], gc_s=p1["gc_s"] - p0["gc_s"],
            heap_peak_mb=p1["heap_peak_mb"]))
        if traced:
            run.extra["spans_file"] = os.path.join(run.work, "spans.json")
            run.server.cmd("spans", run.extra["spans_file"])
            run.extra["traced_window"] = (p0["time_us"], p1["time_us"])
    run.extra["windows"] = windows


def _import(run, wh, tables):
    """Commit each (ns, table, parquet[, analyzed columns]) as a lake table."""
    spec = os.path.join(run.work, "import.txt")
    with open(spec, "w") as fh:
        for t in tables:
            fh.write(" ".join(t[:3]) + (" " + ",".join(t[3]) if len(t) > 3 else "") + "\n")
    run.server.cmd("import", wh, spec)


def _dir_stats(paths):
    out = {"bytes": 0, "sidecar_bytes": 0, "data_files": 0, "snapshot_log_len": 0}
    for p in paths:
        for f in ([p] if os.path.isfile(p) else glob.glob(os.path.join(p, "**", "*"), recursive=True)):
            if not os.path.isfile(f):
                continue
            size = os.path.getsize(f)
            out["bytes"] += size
            if f.endswith(".parquet"):
                out["data_files"] += 1
            elif not os.path.basename(f).startswith("."):
                out["sidecar_bytes"] += size
            if f.endswith("_snapshots.json"):
                with open(f) as fh:
                    out["snapshot_log_len"] += sum(1 for _ in fh)
    return out


def warehouse_stats(wh):
    """Files of every lake table under a warehouse root (data plus sidecars)."""
    return _dir_stats([wh]) if os.path.isdir(wh) else _dir_stats([])


# ---------------------------------------------------------------- agent_session
def snapshot_log(wh, ns, table):
    """Versions in a table's commit log on disk, read without the program."""
    path = os.path.join(wh, ns, f"{table}_snapshots.json")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line)["v"] for line in fh if line.strip()]


def agent_facts(wh, paths, namespaces):
    """What the harness knows of the agent lake it built, for checking the
    catalog verbs: columns, row counts, analyzed columns with their min and
    max, data files on disk and the commit log of every table."""
    facts = {"namespaces": namespaces, "columns": {}, "counts": {}, "stats": {}, "files": {},
             "snapshots": {}}
    for ns, ts in namespaces.items():
        for t in ts:
            tbl = pq.read_table(paths[t])
            facts["columns"][t] = tbl.schema.names
            facts["counts"][t] = tbl.num_rows
            facts["stats"][t] = [(c, tbl.num_rows, pc.min(tbl[c]).as_py(), pc.max(tbl[c]).as_py())
                                 for c in gen.ANALYZED.get(t, [])]
            facts["files"][t] = {os.path.basename(f) for f in glob.glob(
                os.path.join(wh, ns, t, "**", "*.parquet"), recursive=True)}
            facts["snapshots"][t] = snapshot_log(wh, ns, t)
    return facts


def _check_catalog(sql, reply, facts):
    words = sql.split()
    namespaces, t = facts["namespaces"], words[-1].split(".")[-1]
    if sql == "LIST NAMESPACES":
        return sorted(r["namespace"] for r in reply) == sorted(namespaces)
    if sql.startswith("LIST TABLES IN"):
        return sorted(r["table_name"] for r in reply) == sorted(namespaces[words[-1]])
    if sql.startswith("DESCRIBE TABLE"):
        return [r["name"] for r in reply if r["section"] == "schema"] == facts["columns"][t]
    if sql.startswith("SHOW CREATE TABLE"):
        stmt = reply[0]["create_stmt"] if len(reply) == 1 else ""
        cols = [line.split()[0] for line in stmt.split("\n")[1:] if line.startswith("  ")]
        return stmt.startswith(f"CREATE TABLE {words[-1]} (") and cols == facts["columns"][t]
    if sql.startswith("SHOW SNAPSHOTS"):  # the whole commit log, oldest first
        return [r["snapshot"] for r in reply] == facts["snapshots"][t]
    if sql.startswith("SHOW FILES"):  # files that exist, holding every row once
        return (sum(r["row_count"] for r in reply) == facts["counts"][t]
                and {r["file"] for r in reply} <= facts["files"][t])
    if sql.startswith("SHOW STATS"):  # the analyzed columns, with exact row counts and ranges
        got = [(r["column"], r["n_rows"], r["n_nulls"], r["min_v"], r["max_v"]) for r in reply]
        return len(got) == len(facts["stats"][t]) and all(
            g[:3] == (c, n, 0) and check.same_value(float(g[3]), lo) and check.same_value(float(g[4]), hi)
            for g, (c, n, lo, hi) in zip(got, facts["stats"][t]))
    return False


def agent_session(run):
    data, side = os.path.join(run.work, "data"), os.path.join(run.work, "side")
    tables = gen.tpch(run.seed, AGENT_SF)
    gen.write(tables, data)
    gen.write(gen.side_tables(run.seed, SIDE_TABLES), side)
    namespaces = dict(gen.AGENT_NAMESPACES, side=[f"aux_{i:02d}" for i in range(SIDE_TABLES)])
    paths = {t: os.path.join(side if ns == "side" else data, f"{t}.parquet")
             for ns, ts in namespaces.items() for t in ts}
    sizes = {"customer": tables["customer"].num_rows, "side": SIDE_TABLES}
    run.mark("inputs")
    run.server.cmd("hello")
    run.mark("session")
    wh = os.path.join(run.work, "wh")
    _import(run, wh, [(ns, t, paths[t]) + ((gen.ANALYZED[t],) if t in gen.ANALYZED else ())
                      for ns, ts in sorted(namespaces.items()) for t in ts])
    run.server.cmd("server", wh)
    run.mark("warehouse")
    mcp = Mcp(run.server)
    calls = []
    retried = [0.0]  # seconds spent on repeats in this window

    def one(kind, tool, sql, op, timed=True):
        for attempt in range(CALL_ATTEMPTS if timed else 1):
            ok, reply, secs, nbytes = mcp.call(tool, sql)
            # op is the SELECT template or the catalog verb, so a p50 is a
            # median of per-op medians
            c = (run.record(kind, secs, ok, nbytes, mcp.steal, op=op, repeat=attempt > 0) if timed
                 else dict(kind=kind, ok=ok))
            run.untimed += not timed
            c.update(sql=sql, reply=reply)
            calls.append(c)
            if not c.get("stolen") or retried[0] >= RETRY_BUDGET_S:
                break
            retried[0] += secs
    # warm-up: one whole cycle from its own seed, so every SELECT shape and
    # every verb has run once before the window
    for call in next(gen.agent_cycles(run.seed + 1, namespaces, sizes)):
        one(*call, timed=False)
    run.mark("warm_up")
    run.extra["setup_s"] = time.perf_counter() - run.t_launch
    cycles = []

    def restart():
        cycles[:] = [gen.agent_cycles(run.seed, namespaces, sizes)]
        retried[0] = 0.0
    # whole cycles, at least one: every window times every SELECT shape and
    # every verb, so the medians do not hinge on where a window ended
    _window(run, lambda: [one(*c) for c in next(cycles[0])], AGENT_CYCLES, restart)
    run.extra["live_heap_mb"] = run.server.cmd("gc")["live_heap_mb"]
    run.extra["warehouse"] = warehouse_stats(wh)
    facts = agent_facts(wh, paths, namespaces)
    for c in agent_check(calls, check.connect([data, side]), facts):
        run.fail(c["sql"][:200] + ("" if c["ok"] else f" -> {str(c['reply'])[:300]}"))
        c["ok"] = False
    run.extra["main_kind"] = "select"
    return run


def agent_check(calls, con, facts):
    """Every agent call whose answer is wrong (or that failed): SELECTs
    against DuckDB over the generated files, COUNT(*) against the row
    counts written, catalog verbs against the lake that was built."""
    bad = []
    for c in calls:
        if not c["ok"]:
            good = False
        elif c["kind"] == "select":
            good = check.same_rows(c["reply"], check.rows(con, c["sql"]))
        elif c["kind"] == "count":
            good = [list(r.values()) for r in c["reply"]] == [[facts["counts"][c["sql"].split(".")[-1]]]]
        else:
            try:
                good = _check_catalog(c["sql"], c["reply"], facts)
            except (KeyError, IndexError, TypeError, ValueError):  # a reply of the wrong shape
                good = False
        if not good:
            bad.append(c)
    return bad


# ---------------------------------------------------------------- lake_writes
TT_SQL = "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders VERSION AS OF {v}"
CHECKSUM_SQL = ("SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, SUM(o_custkey) AS custs, "
                "MAX(o_orderkey) AS max_key FROM orders")


# o_orderdate is left out: the gateway cannot coerce a literal into the
# TIMESTAMP_NTZ type Spark reads these parquet timestamps as
INSERT_COLS = "(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority)"


def _order_values(r, key, n_cust):
    return (f"{INSERT_COLS} VALUES ({key}, {int(r.integers(0, n_cust))}, "
            f"'{'FOP'[int(r.integers(0, 3))]}', {int(r.integers(100000, 50000000)) / 100.0}, "
            f"'{gen.PRIORITIES[int(r.integers(0, 5))]}')")


class LakeStream:
    """Seeded write stream for lake_writes. Each cycle is one write and its
    read-backs; compaction and snapshot expiry run once per round of the six
    statement types. The types come in a fixed order; the seed picks keys
    and values."""
    WRITES = ["insert", "delete_mor", "update", "merge", "insert", "delete_cow"]

    def __init__(self, seed, n_orders, n_cust):
        self.r = np.random.default_rng(seed + 202)
        self.n_orders, self.n_cust = n_orders, n_cust
        self.next_key = n_orders
        self.stage_keys = set()
        self.cycle = 0

    def write(self):
        r = self.r
        op = self.WRITES[self.cycle % len(self.WRITES)]
        if op == "insert":
            self.next_key += 1
            return [(op, f"INSERT INTO lake.orders {_order_values(r, self.next_key, self.n_cust)}")]
        if op == "delete_mor":
            a = int(r.integers(0, self.n_orders - 4))
            return [(op, f"DELETE MOR FROM lake.orders WHERE o_orderkey BETWEEN {a} AND {a + 3}")]
        if op == "update":
            return [(op, "UPDATE lake.orders SET o_totalprice = o_totalprice + 10.5 "
                         f"WHERE o_custkey = {int(r.integers(0, self.n_cust))}")]
        if op == "delete_cow":
            return [(op, f"DELETE FROM lake.orders WHERE o_custkey = {int(r.integers(0, self.n_cust))}")]
        key = int(r.integers(0, self.n_orders))
        if r.random() < 0.5 or key in self.stage_keys:
            self.next_key += 1
            key = self.next_key
        self.stage_keys.add(key)
        return [("stage_insert", f"INSERT INTO lake.stage {_order_values(r, key, self.n_cust)}"),
                ("merge", "MERGE INTO lake.orders USING lake.stage ON o_orderkey")]

    def agg_sql(self):
        return ("SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, MAX(o_orderkey) AS max_key "
                f"FROM orders WHERE o_custkey < {int(self.r.integers(1, self.n_cust))}")

    def pick(self, choices):
        return choices[int(self.r.integers(0, len(choices)))]


def lake_writes(run):
    data = os.path.join(run.work, "data")
    tables = gen.tpch(run.seed, LAKE_SF)
    orders = tables["orders"]
    n_orders, n_cust = orders.num_rows, tables["customer"].num_rows
    os.makedirs(data, exist_ok=True)
    orders_pq, stage_pq = os.path.join(data, "orders.parquet"), os.path.join(data, "stage.parquet")
    pq.write_table(orders, orders_pq)
    # the merge source starts as four fresh orders above the key range
    pq.write_table(orders.slice(0, 4).set_column(
        0, "o_orderkey", pa.array([n_orders + 1_000_000 + i for i in range(4)], pa.int64())), stage_pq)
    run.mark("inputs")
    run.server.cmd("hello")
    run.mark("session")
    wh = os.path.join(run.work, "wh")
    _import(run, wh, [("lake", "orders", orders_pq), ("lake", "stage", stage_pq)])
    run.server.cmd("server", wh)
    run.mark("warehouse")
    mcp = Mcp(run.server)
    stream = LakeStream(run.seed, n_orders, n_cust)
    stream.stage_keys.update(n_orders + 1_000_000 + i for i in range(4))
    log = []          # every call in order, for the shadow replay
    heads = {}        # snapshot version -> number of writes applied when it was head
    listed = []       # versions in the latest SHOW SNAPSHOTS reply
    timed = [True]

    def call(op, tool, sql, **kw):
        ok, reply, secs, nbytes = mcp.call(tool, sql)
        kind = LAKE_KINDS.get(op, "write")
        e = (run.record(kind, secs, ok, nbytes, mcp.steal, op=op) if timed[0]
             else dict(kind=kind, ok=ok, op=op))
        run.untimed += not timed[0]
        e.update(sql=sql, reply=reply, **kw)
        log.append(e)
        return e

    def snapshots():
        e = call("catalog", "query_catalog", "SHOW SNAPSHOTS IN lake.orders",
                 disk=snapshot_log(wh, "lake", "orders"))
        if e["ok"] and e["reply"]:
            listed[:] = [r["snapshot"] for r in e["reply"]]
            heads[max(listed)] = sum(1 for x in log if x.get("write") and x["ok"])

    def cycle():
        for op, sql in stream.write():
            call(op, "query_table", sql, write=True)
        snapshots()
        call("count", "query_table", "SELECT COUNT(*) FROM lake.orders")
        call("select", "query_table", stream.agg_sql())
        known = [v for v in listed if v in heads]
        if stream.cycle % 2 == 1 and known:
            v = stream.pick(known)
            call("time_travel", "query_table", TT_SQL.format(v=v), state=heads[v])
        if stream.cycle % 6 == 5:
            call("compact", "query_catalog", "MAINTAIN COMPACT lake.orders MAX 4 FILES")
            snapshots()
        if stream.cycle % 6 == 2:
            call("expire", "query_catalog", "EXPIRE SNAPSHOTS IN lake.orders KEEP 4")
            snapshots()
        stream.cycle += 1

    def round_():  # one cycle per statement type: every window holds whole rounds
        stream.cycle = 0
        for _ in LakeStream.WRITES:
            cycle()
    # warm-up: untimed rounds, so every write path has run and been compiled
    # before the window
    timed[0] = False
    snapshots()
    for _ in range(LAKE_WARM_ROUNDS):
        round_()
    run.mark("warm_up")
    run.extra["setup_s"] = time.perf_counter() - run.t_launch
    timed[0] = True
    # whole rounds, so every statement type is timed; a fixed amount of work,
    # so the heap at the end does not hinge on the host
    _window(run, round_, LAKE_ROUNDS)
    timed[0] = False
    run.extra["live_heap_mb"] = run.server.cmd("gc")["live_heap_mb"]
    # restart: a fresh server and catalog over the same directory
    run.server.cmd("server", wh)
    mcp = Mcp(run.server)
    final = [("count", "SELECT COUNT(*) FROM lake.orders"), ("select", CHECKSUM_SQL),
             ("select", f"SELECT {INSERT_COLS.strip('()')} FROM orders "
                        f"WHERE o_orderkey >= {n_orders} ORDER BY o_orderkey LIMIT 1000")]
    for kind, sql in final:
        call(kind, "query_table", sql, restart=True)
    rewrite = os.path.join(run.work, "rewrite")
    run.server.cmd("rewrite", wh, "lake", "orders", rewrite)
    table = _dir_stats([os.path.join(wh, "lake", "orders")] + glob.glob(os.path.join(wh, "lake", "orders_*")))
    live = _dir_stats([rewrite])
    run.extra["warehouse"] = table
    run.extra["space_amp"] = table["bytes"] / live["bytes"]
    failures = lake_check(log, orders_pq, stage_pq)
    for e in failures:
        run.fail(e["sql"][:200] + ("" if e["ok"] else f" -> {str(e['reply'])[:300]}"))
        if "ms" in e:
            e["ok"] = False
    run.extra["main_kind"] = "write"
    return run


# The kind of each lake op that is not a write. An op is timed on its own
# (per-op medians), so ops of one kind but of different cost, like a
# compaction and a snapshot expiry, are different ops.
LAKE_KINDS = {"catalog": "catalog", "count": "count", "select": "select", "time_travel": "select",
              "compact": "maintain", "expire": "maintain"}
ORDERS_COMMITS = {"insert", "delete_mor", "update", "merge", "delete_cow", "compact", "expire"}


def _snapshots_bad(e, prev_head, may_commit, keep):
    """A SHOW SNAPSHOTS reply is wrong unless it is the commit log on disk,
    strictly increasing, no shorter than EXPIRE left it, and its head moved
    only if a commit to the table was acknowledged since the last listing."""
    try:
        vs = [r["snapshot"] for r in e["reply"]]
    except (KeyError, TypeError):
        return True
    return (not vs or vs != e.get("disk", vs) or vs != sorted(set(vs))
            or (keep is not None and len(vs) > keep)
            or (prev_head is not None and (vs[-1] < prev_head or (not may_commit and vs[-1] != prev_head))))


def lake_check(log, orders_pq, stage_pq):
    """Replay the acknowledged writes into a DuckDB shadow and return every
    logged call whose answer disagrees with it (or that failed)."""
    shadow = check.Shadow(check.connect([]), orders_pq, stage_pq)
    wanted = {e["state"] for e in log if "state" in e}
    states, applied, bad = {}, 0, []
    head, may_commit, keep = None, False, None

    def remember():
        if applied in wanted and applied not in states:
            states[applied] = shadow.query(TT_SQL.replace(" VERSION AS OF {v}", ""))
    remember()
    for e in log:
        if not e["ok"]:
            bad.append(e)
            continue
        if e["op"] in ORDERS_COMMITS:
            may_commit = True
            if e["op"] == "expire":
                keep = int(e["sql"].split()[-1])
        if e.get("write"):
            shadow.apply(e["op"], e["sql"])
            applied += 1
            remember()
        elif "state" in e:
            if not check.same_rows(e["reply"], states[e["state"]]):
                bad.append(e)
        elif e["op"] == "count":
            if [list(r.values()) for r in e["reply"]] != [list(x) for x in shadow.query(
                    "SELECT COUNT(*) FROM orders")]:
                bad.append(e)
        elif e["op"] == "select":
            if not check.same_rows(e["reply"], shadow.query(e["sql"])):
                bad.append(e)
        elif e["op"] == "catalog":
            if _snapshots_bad(e, head, may_commit, keep):
                bad.append(e)
            else:
                head, may_commit, keep = e["reply"][-1]["snapshot"], False, None
    return bad


WORKLOADS = {"agent_session": agent_session, "lake_writes": lake_writes}
