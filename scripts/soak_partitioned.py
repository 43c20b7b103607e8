"""Adversarial soak of the CDC stream reader (VERDICT r7 item 5).

Drives the r7 ingest rewrite (prefetch thread, run-id frontiers,
maxBatchSeconds) through the faults a production deployment actually
sees, concurrently, for minutes:

- **server restarts**: a random stream's server is stopped mid-batch
  and brought back on the same port ~0.5 s later serving its full
  history (FakeMaxScale replays from the requested GTID inclusively,
  like the avrorouter);
- **executor kills**: a random python worker process is SIGKILLed
  mid-task (the local-mode equivalent of losing an executor);
- **trickle + burst alternation**: each stream's feeder alternates
  ~4 s of 10 ev/s trickle with 2k-event bursts, so batches end through
  every path — idle poll, record cap, and the maxBatchSeconds
  wall-clock guard.

Recovery is the production stack: ``run_supervised`` restarts the
query from its checkpoint; the end-state check is the envelope-dedup
``SnapshotSink`` (idempotent upsert), so the assertion is EXACT —
after the chaos window closes and the stream drains, the snapshot
must hold precisely one row per pushed (stream, sequence) key, for
every key, despite at-least-once replays across every fault.

Usage: python scripts/soak_partitioned.py [--duration 300] [--streams 4]

``--streams 1`` soaks the one-stream case (what ``table=`` builds)
through the same fault schedule and the same exact end-state assertion.

Prints one summary line; exit 0 iff the exact end-state check passed.
Results are recorded in SURVEY.md §21 (rounds 8–9).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import subprocess
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The supervised query runs a Python DataSource: executors' python
# workers must be able to import the package from ANY launch cwd (r12:
# a /tmp-launched soak crash-looped its child on ModuleNotFoundError).
# Covers both this process and the --child-config subprocess, which
# inherits the env.
from maxscale_cdc_connector_spark.session import _ensure_worker_pythonpath  # noqa: E402

_ensure_worker_pythonpath()

from tests.fake_maxscale import TEST_SCHEMA_RECORD, FakeMaxScale, make_event  # noqa: E402


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().split(")")[-1].split()[1])
    except (OSError, ValueError, IndexError):
        return None


def _descends_from(pid: int, root_pid: int, max_hops: int = 32) -> bool:
    """True iff ``root_pid`` is an ancestor of ``pid`` (walk /proc ppids)."""
    cur: int | None = pid
    for _ in range(max_hops):
        if cur is None or cur <= 1:
            return False
        if cur == root_pid:
            return True
        cur = _ppid(cur)
    return False


def _python_worker_pids(root_pid: int | None = None) -> list[int]:
    """PIDs of pyspark python WORKER processes (forked children of the
    pyspark.daemon process — same cmdline, so distinguish by parent).

    ``root_pid`` scopes the hunt to workers whose ancestry traces to
    THAT process (this soak's own driver, or its killable child) — a
    bare pgrep would also murder workers belonging to any OTHER Spark
    session on the host. Found the hard way in r11: a soak running
    beside a bench run SIGKILLed the bench's workers and inflated its
    idle-trigger rows ~100×. Default (None) scopes to this process."""
    if root_pid is None:
        root_pid = os.getpid()
    try:
        out = subprocess.run(
            ["pgrep", "-f", "pyspark.daemon"], capture_output=True, text=True
        ).stdout
    except OSError:
        return []
    pids = {int(p) for p in out.split() if p.strip()}
    workers = []
    for pid in pids:
        ppid = _ppid(pid)
        if ppid is None or ppid not in pids:
            continue  # a daemon itself, not a forked worker
        if _descends_from(pid, root_pid):
            workers.append(pid)
    return workers


def _sink_from_cfg(cfg: dict):
    """SnapshotSink with IDENTICAL parameters on both sides of the
    kill-supervisor soak (child writer, parent drain reader) — the sink
    refuses mismatched parameters at merge time, so one shared
    constructor keeps the two sides from drifting."""
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink

    if cfg.get("order_cols"):
        return SnapshotSink(
            cfg["snapshot_dir"], cfg["key_cols"], order_cols=tuple(cfg["order_cols"])
        )
    return SnapshotSink(cfg["snapshot_dir"], cfg["key_cols"])


def _join_feeders_or_die(feeders: list[threading.Thread], deadline_s: float = 120.0) -> None:
    """Join every feeder, LOUDLY. A bounded join that times out silently
    would let the end-state math read a still-mutating push history
    (st.events / next_seq) — freezing an expected map the sink then
    rightfully disagrees with: a false chaos failure. A feeder stuck
    past the deadline is a harness bug worth failing on, not hiding."""
    end = time.time() + deadline_s
    for th in feeders:
        th.join(max(0.1, end - time.time()))
    stuck = [th.name for th in feeders if th.is_alive()]
    if stuck:
        raise RuntimeError(f"feeder thread(s) still running at end-state time: {stuck}")


class StreamState:
    """One stream's server handle + full pushed history (for restarts)."""

    def __init__(
        self,
        idx: int,
        shared_gtid_space: bool = False,
        key_space: int | None = None,
        seed: int = 0,
    ) -> None:
        self.shared_gtid_space = shared_gtid_space
        # --conflict: writes land on a SHARED bounded key space so
        # streams genuinely update the same rows; ids are drawn from a
        # per-stream RNG and every pushed event is kept in self.events,
        # so the expected reconciled winner per key is computed from
        # the recorded history, not from replaying the randomness.
        self.key_space = key_space
        self.rng = random.Random(seed * 1000 + idx)
        # Current schema record (mutated by --alter mid-chaos); restarts
        # recreate the server serving THIS version as the leading record
        # (avrorouter announces the current version on connect).
        self.schema = TEST_SCHEMA_RECORD
        # First sequence pushed AFTER the ALTER (None = no ALTER yet):
        # the end-state check verifies extra="x<id>" at-or-after it and
        # extra IS NULL before it (the widened-schema backfill contract).
        self.alter_seq: int | None = None
        self.idx = idx
        self.table = f"soak.s{idx}"
        self.lock = threading.Lock()
        self.events: list[dict] = []
        self.next_seq = 1
        self.server = FakeMaxScale(
            TEST_SCHEMA_RECORD, [], user="soak", password="soak", table=self.table
        )
        self.server.__enter__()
        self.port = self.server.port

    def push(self, n: int) -> None:
        with self.lock:
            for _ in range(n):
                # Distinct server_id per stream: each real MariaDB
                # server has its own — two streams sharing (domain,
                # server_id, sequence) triples would be collapsed by
                # the SnapshotSink's envelope dedup (see
                # streaming/ops.dedup_exact scope note, an r8 soak
                # finding: envelope identity is per-GTID-space).
                # --shared-gtid-space inverts this deliberately: ALL
                # streams emit IDENTICAL triples, and the stamped
                # sourceId discriminator must keep them apart (r9).
                if self.key_space is not None:
                    # Conflicting write: a shared key, updated by every
                    # stream; the payload names the exact writer+seq so
                    # the end-state check can assert the WINNER's value.
                    ev = make_event(
                        self.next_seq,
                        event_type="update_after",
                        id_=self.rng.randint(1, self.key_space),
                        name=f"s{self.idx}.{self.next_seq}",
                    )
                else:
                    ev = make_event(
                        self.next_seq, id_=self.next_seq, name=f"s{self.idx}"
                    )
                if not self.shared_gtid_space:
                    ev["server_id"] = 3000 + self.idx
                if self.alter_seq is not None:
                    ev["extra"] = f"x{self.next_seq}"
                self.events.append(ev)
                self.server.push_event(ev)
                self.next_seq += 1

    def alter(self, new_schema: dict) -> None:
        with self.lock:
            self.alter_seq = self.next_seq
            self.schema = new_schema
            self.server.push_schema_change(new_schema)

    def restart(self, downtime: float) -> None:
        with self.lock:
            self.server.stop()
        time.sleep(downtime)
        with self.lock:
            # Recovered server serves the FULL history; the client's
            # GTID resume + cursor skip drop what was already delivered.
            self.server = FakeMaxScale(
                self.schema,
                list(self.events),
                user="soak",
                password="soak",
                table=self.table,
                port=self.port,
            )
            self.server.__enter__()

    def stop(self) -> None:
        with self.lock:
            self.server.stop()


def _child_main(cfg_path: str) -> int:
    """Supervisor child process for ``--kill-supervisor``: owns its own
    SparkSession + the supervised query, and NOTHING else — servers,
    feeders and chaos live in the parent, so SIGKILLing this process
    (and its process group: JVM, daemons, workers) is exactly a driver
    host loss. Every incarnation resumes from the shared checkpoint and
    the persisted ``schema_cache`` ({schema, null_missing} — the r10
    fix this mode exists to soak)."""
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    from pyspark.sql import SparkSession

    from maxscale_cdc_connector_spark.sources.cdc_datasource import MaxScaleCDCDataSource
    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # The default 1g heap survives 4-16 streams but OOMs at 48: a
        # post-SIGKILL catch-up batch carries every stream's replayed
        # tail at once, and the sink's merge rewrites a multi-million-
        # row snapshot (r12 finding — the OOM looped the supervised
        # query forever while frontiers stood still).
        .config(
            "spark.driver.memory",
            os.environ.get("SOAK_CHILD_DRIVER_MEMORY", "8g"),
        )
        # The 128-stream soak hit a JVM StackOverflowError inside
        # java.util.regex (Spark's plan-string redaction walking a
        # recursive alternation over a very large plan/error string
        # while a writer job aborted). run_supervised recovered it,
        # but a deeper thread stack removes the crash class entirely.
        .config("spark.driver.extraJavaOptions", "-Xss16m")
        .appName("cdc_soak_supervisor_child")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(MaxScaleCDCDataSource)
    # order_cols present = --conflict mode: one reconciled row per key
    # under the documented cross-source last-writer-wins total order.
    snap = _sink_from_cfg(cfg)
    stop_file = cfg["stop_file"]

    def attach(df):
        return (
            df.writeStream.foreachBatch(snap)
            .option("checkpointLocation", cfg["ckpt"])
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    try:
        restarts = run_supervised(
            spark,
            cfg["options"],
            attach,
            max_restarts=1000,
            initial_backoff=0.3,
            max_backoff=5.0,
            stop_when=lambda: os.path.exists(stop_file),
            timeout=cfg["timeout"],
            schema_cache=cfg["schema_cache"],
        )
    except Exception as exc:  # noqa: BLE001 — surfaced to the parent
        print(
            f"[soak-child] supervisor error: {type(exc).__name__}: "
            f"{str(exc)[:2000]}",
            flush=True,
        )
        return 1
    try:
        with open(cfg["result_file"], "w") as fh:
            json.dump({"restarts": restarts}, fh)
    except OSError:
        pass
    return 0


class _ChildSupervisor:
    """Spawn/kill handle for the supervisor child process. The child is
    its own session leader, so SIGKILL to the process GROUP takes the
    python driver, the JVM it launched, and every pyspark daemon/worker
    under it — the whole driver host, atomically."""

    def __init__(self, cfg_path: str) -> None:
        self.cmd = [sys.executable, os.path.abspath(__file__), "--child-config", cfg_path]
        self.lock = threading.Lock()
        self.proc: subprocess.Popen | None = None
        self.last_spawn = 0.0

    def spawn(self) -> None:
        with self.lock:
            if self.proc is not None and self.proc.poll() is None:
                return  # one supervisor at a time — two would share a checkpoint
            self.proc = subprocess.Popen(self.cmd, start_new_session=True)
            self.last_spawn = time.time()

    def kill(self) -> None:
        with self.lock:
            # Also restarts the monitor's grace window: the ~1 s gap
            # between a SCHEDULED kill and its respawn must not read as
            # an unplanned exit (that race double-spawned, briefly
            # running two supervisors against one checkpoint).
            self.last_spawn = time.time()
            if self.proc is not None and self.proc.poll() is None:
                try:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                except OSError:
                    pass
                try:
                    self.proc.wait(30)
                except subprocess.TimeoutExpired:
                    pass

    def exited(self) -> bool:
        with self.lock:
            return self.proc is None or self.proc.poll() is not None


def _run_kill_supervisor(args) -> int:
    """Parent side of ``--kill-supervisor``: servers + feeders + chaos
    here, the supervised query in a killable child process. The exact
    end-state assertion is unchanged from the in-process soak — every
    pushed (stream, id) present exactly once, and with ``--alter`` the
    widened-column value/NULL-backfill contract on every row — but now
    it must hold across whole-driver SIGKILLs, including ones landing
    between the schema-cache write and the checkpoint passing the ALTER
    boundary (the ADVICE r9 hole the r10 cache closes)."""
    rng = random.Random(args.seed)
    KEY_SPACE = 500
    streams = [
        StreamState(
            i,
            shared_gtid_space=args.conflict,
            key_space=KEY_SPACE if args.conflict else None,
            seed=args.seed,
        )
        for i in range(args.streams)
    ]
    scratch = tempfile.mkdtemp(prefix="cdc_soak_ks_")
    stop_file = os.path.join(scratch, "stop")
    cfg = {
        "snapshot_dir": os.path.join(scratch, "snapshot"),
        # --conflict: one reconciled row per key across all writers,
        # merged by the documented cross-source LWW total order — the
        # same sink the in-process --conflict soak asserts, now under
        # whole-driver SIGKILLs.
        "key_cols": ["id"] if args.conflict else ["name", "id"],
        "order_cols": (
            ["timestamp", "_source_id", "sequence", "event_number"]
            if args.conflict
            else None
        ),
        "ckpt": os.path.join(scratch, "ckpt"),
        "stop_file": stop_file,
        "result_file": os.path.join(scratch, "child_result.json"),
        "schema_cache": os.path.join(scratch, "schema_cache.json"),
        "timeout": args.duration + 900.0,
        "options": {
            "host": "127.0.0.1",
            "user": "soak",
            "password": "soak",
            "schemaRecord": json.dumps(TEST_SCHEMA_RECORD),
            "pollseconds": "0.3",
            "maxbatchseconds": "2",
            # Bound catch-up batches: after a supervisor SIGKILL every
            # stream replays its tail in ONE batch unless capped, and
            # at 48 streams that is a ~5M-row batch the sink must
            # localCheckpoint + merge (the README's production guidance
            # — size maxRecordsPerBatch — applies to the soak too).
            "maxrecordsperbatch": str(args.max_records_per_batch),
            "streams": json.dumps(
                [
                    {"table": s.table, "port": s.port}
                    | ({"sourceId": f"src{s.idx}"} if args.conflict else {})
                    for s in streams
                ]
            ),
            "frontierDir": os.path.join(scratch, "frontier"),
        },
    }
    cfg_path = os.path.join(scratch, "child_config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    child = _ChildSupervisor(cfg_path)
    child.spawn()

    chaos_until = time.time() + args.duration
    t0 = time.time()
    counters = {
        "restarts_injected": 0,
        "workers_killed": 0,
        "bursts": 0,
        "supervisor_kills": 0,
        "supervisor_respawns_unplanned": 0,
    }

    def feeder(st: StreamState) -> None:
        while time.time() < chaos_until:
            t_end = min(time.time() + 4.0, chaos_until)
            while time.time() < t_end:
                st.push(1)
                time.sleep(0.1)
            if time.time() >= chaos_until:
                break
            st.push(2000)
            counters["bursts"] += 1
            time.sleep(1.0)

    def server_chaos() -> None:
        while time.time() < chaos_until:
            time.sleep(rng.uniform(12.0, 22.0))
            if time.time() >= chaos_until:
                break
            st = rng.choice(streams)
            print(f"[soak] t={time.time()-t0:.1f}s restarting server "
                  f"s{st.idx} (head seq {st.next_seq - 1})", flush=True)
            st.restart(downtime=rng.uniform(0.3, 1.0))
            counters["restarts_injected"] += 1

    def worker_chaos() -> None:
        while time.time() < chaos_until:
            time.sleep(rng.uniform(10.0, 18.0))
            if time.time() >= chaos_until:
                break
            # Scope victims to the killable CHILD's process tree (pid
            # read at call time -- it changes across respawns): workers
            # of any other Spark session on this host are off-limits.
            proc = child.proc
            if proc is None or proc.poll() is not None:
                continue
            victims = _python_worker_pids(proc.pid)
            if victims:
                pid = rng.choice(victims)
                try:
                    os.kill(pid, signal.SIGKILL)
                    print(f"[soak] t={time.time()-t0:.1f}s killed worker {pid}",
                          flush=True)
                    counters["workers_killed"] += 1
                except OSError:
                    pass

    def alter_chaos() -> None:
        time.sleep(args.duration / 2.0)
        if time.time() >= chaos_until:
            return
        new_schema = dict(TEST_SCHEMA_RECORD)
        new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
            {"name": "extra", "type": "string", "real_type": "varchar",
             "length": 16}
        ]
        for st in streams:
            st.alter(new_schema)
        counters["alters"] = 1
        print(
            f"[soak] t={time.time()-t0:.1f}s ALTER pushed to all streams "
            f"(boundaries { {f's{st.idx}': st.alter_seq for st in streams} })",
            flush=True,
        )

    def supervisor_chaos() -> None:
        # Fixed fractions, not a random interval: with --alter at 50%,
        # the 35% kill lands BEFORE the boundary (plain checkpoint
        # resume) and 55%/80% land AFTER it, when the schema cache +
        # checkpoint replay interplay is the thing under test.
        for frac in (0.35, 0.55, 0.80):
            target = t0 + frac * args.duration
            while time.time() < min(target, chaos_until):
                time.sleep(0.5)
            if time.time() >= chaos_until:
                break
            print(f"[soak] t={time.time()-t0:.1f}s SIGKILL supervisor "
                  f"process group (pid {child.proc.pid})", flush=True)
            child.kill()
            counters["supervisor_kills"] += 1
            time.sleep(1.0)
            child.spawn()

    drain_deadline = time.time() + args.duration + float(
        os.environ.get("SOAK_DRAIN_S", "420")
    )

    def child_monitor() -> None:
        # A child that died on its OWN (not a scheduled kill — those
        # respawn within ~1 s) is respawned so the drain can finish,
        # and counted: an unplanned exit is itself a finding.
        while not os.path.exists(stop_file) and time.time() < drain_deadline:
            time.sleep(2.0)
            if (
                child.exited()
                and not os.path.exists(stop_file)
                and time.time() - child.last_spawn > 6.0
            ):
                print(f"[soak] t={time.time()-t0:.1f}s child exited "
                      "unplanned; respawning", flush=True)
                counters["supervisor_respawns_unplanned"] += 1
                child.spawn()

    feeders = [
        threading.Thread(target=feeder, args=(s,), daemon=True) for s in streams
    ]
    threads = feeders + [
        threading.Thread(target=server_chaos, daemon=True),
        threading.Thread(target=worker_chaos, daemon=True),
        threading.Thread(target=supervisor_chaos, daemon=True),
        threading.Thread(target=child_monitor, daemon=True),
    ]
    if args.alter:
        threads.append(threading.Thread(target=alter_chaos, daemon=True))
    for th in threads:
        th.start()

    ok = False
    expected: dict[str, set[int]] = {}
    try:
        while time.time() < chaos_until:
            time.sleep(2.0)
        _join_feeders_or_die(feeders)
        expected = {f"s{s.idx}": set(range(1, s.next_seq)) for s in streams}
        total = sum(len(v) for v in expected.values())
        print(f"[soak] chaos window closed: {total} events pushed, "
              f"{counters['restarts_injected']} server restarts, "
              f"{counters['workers_killed']} workers killed, "
              f"{counters['supervisor_kills']} supervisor kills, "
              f"{counters['bursts']} bursts; draining...", flush=True)

        # Parent-side polling session (created only now, so the two
        # drivers never compete during the chaos window): the sink's
        # snapshot is parquet on disk, readable from any session.
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        pspark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .appName("cdc_soak_ks_parent")
            .getOrCreate()
        )
        pspark.sparkContext.setLogLevel("ERROR")
        snap = _sink_from_cfg(cfg)

        if args.conflict:
            # Expected reconciled winner per key from the FULL recorded
            # push history, under the sink's LWW total order — identical
            # assertion to the in-process --conflict soak, but it must
            # now hold across whole-driver SIGKILLs (checkpoint + sink
            # manifest-publish atomicity across process death, not just
            # query restarts inside one JVM).
            # Composed --alter (VERDICT r12 item 6): the winner tuple
            # additionally carries the winning EVENT's recorded ``extra``
            # (``x<sequence>`` when that event was pushed at-or-after its
            # stream's ALTER boundary, None before it), so the exact
            # end-state assertion covers LWW reconciliation AND the
            # widened-column/NULL-backfill contract in one check.
            with_extra = bool(args.alter and counters.get("alters"))
            best: dict[int, tuple] = {}
            for st in streams:
                src = f"src{st.idx}"
                for ev in st.events:
                    ordk = (ev["timestamp"], src, ev["sequence"], ev["event_number"])
                    k = ev["id"]
                    if k not in best or ordk > best[k][0]:
                        best[k] = (ordk, ev["name"], src, ev.get("extra"))
            expected_map = {
                k: (v[1], v[2]) + ((v[3],) if with_extra else ())
                for k, v in best.items()
            }
            def read_got_map() -> dict[int, tuple]:
                """One snapshot read under the winner-tuple shape. The
                snapshot widens to include ``extra`` only once the first
                post-ALTER row merges; until then every row's extra is
                the NULL backfill."""
                cur = snap.snapshot(pspark)
                if with_extra and "extra" in cur.columns:
                    rows = cur.select("id", "name", "_source_id", "extra").collect()
                    return {
                        r["id"]: (r["name"], r["_source_id"], r["extra"])
                        for r in rows
                    }
                if with_extra:
                    rows = cur.select("id", "name", "_source_id").collect()
                    return {
                        r["id"]: (r["name"], r["_source_id"], None) for r in rows
                    }
                rows = cur.select("id", "name", "_source_id").collect()
                return {r["id"]: (r["name"], r["_source_id"]) for r in rows}

            got_map: dict[int, tuple] = {}
            while time.time() < drain_deadline:
                time.sleep(5.0)
                try:
                    got_map = read_got_map()
                    diff = sum(
                        1 for k, v in expected_map.items() if got_map.get(k) != v
                    )
                    print(
                        f"[soak] conflict drain poll: {len(got_map)} keys, "
                        f"{diff} of {len(expected_map)} not yet at winner",
                        flush=True,
                    )
                    if got_map == expected_map:
                        break
                except FileNotFoundError:
                    continue
                except Exception:  # noqa: BLE001 — racing the live sink
                    continue
            if got_map != expected_map:
                # Deadline exit (ADVICE r13): the last polled got_map can
                # be a mid-merge snapshot, or predate the widened column
                # (every extra reading as None) — the failure diff and
                # the extra_violations diagnostic below would then
                # undercount or misattribute. One final read AFTER the
                # loop fixes the diagnostics to the snapshot actually
                # being judged; a failing read keeps the last poll.
                try:
                    got_map = read_got_map()
                except Exception:  # noqa: BLE001 — keep the last poll
                    pass
            ok = got_map == expected_map
            if not ok:
                losers = [
                    (k, got_map.get(k), v)
                    for k, v in sorted(expected_map.items())
                    if got_map.get(k) != v
                ]
                print(f"[soak] conflict mismatches (first 20): {losers[:20]}",
                      flush=True)
            counters["conflict_keys"] = len(expected_map)
            if with_extra:
                # Diagnostic split: residual mismatches that are the
                # ALTER contract (extra) vs the LWW winner value itself.
                counters["extra_violations"] = sum(
                    1
                    for k, v in expected_map.items()
                    if got_map.get(k) is not None
                    and got_map[k][:2] == v[:2]
                    and got_map[k][2] != v[2]
                )

        def quiesce_child() -> None:
            """Counts have converged: stop the supervised child BEFORE
            the multi-sweep end-state verification. At 128 streams the
            id-set + ALTER sweeps take minutes of parent Spark jobs,
            and a live sink swapping buckets mid-sweep turns every
            pass into a retry until the drain deadline expires (r12:
            the first 128-stream soak 'failed' with have == want on
            every stream). Verifying the FINAL quiesced snapshot is
            exactly what a deployment reads after stopping a query;
            stopping after convergence can lose nothing — later
            batches could only re-upsert replayed supersets."""
            with open(stop_file, "w") as fh:
                fh.write("stop")
            try:
                if child.proc is not None:
                    child.proc.wait(90)
            except subprocess.TimeoutExpired:
                child.kill()

        got: dict[str, set[int]] = {}
        # (--conflict already resolved ok above; the per-stream id-set
        # drain below is the disjoint-key mode's end state.)
        while not args.conflict and time.time() < drain_deadline:
            time.sleep(5.0)
            try:
                cur = snap.snapshot(pspark)
                rows = cur.groupBy("name").agg({"id": "count"}).collect()
                sizes = {r["name"]: r["count(id)"] for r in rows}
                print(f"[soak] drain poll: have {sizes} want "
                      f"{ {k: len(v) for k, v in expected.items()} }",
                      flush=True)
                if sizes == {k: len(v) for k, v in expected.items()}:
                    quiesce_child()
                    # One Arrow pass instead of one filter+collect job
                    # per stream (128 sequential jobs at high counts).
                    pdf = snap.snapshot(pspark).select("name", "id").toPandas()
                    got = {
                        str(name): set(g["id"].tolist())
                        for name, g in pdf.groupby("name")
                    }
                    break
            except FileNotFoundError:
                continue
            except Exception:  # noqa: BLE001 — racing the live sink
                continue
        if args.conflict and ok:
            quiesce_child()  # resolved — no reason to keep replaying
        if not args.conflict:
            ok = got == expected
        # Disjoint-mode ALTER sweep (id == sequence there); in --conflict
        # the extra contract is asserted inside the winner map above.
        if ok and args.alter and counters.get("alters") and not args.conflict:
            viol = None
            for _attempt in range(5):
                try:
                    cur = snap.snapshot(pspark)
                    v = 0
                    for st in streams:
                        sub = cur.filter(F.col("name") == f"s{st.idx}")
                        b = st.alter_seq
                        v += sub.filter(
                            (F.col("id") >= b)
                            & (
                                F.col("extra").isNull()
                                | (F.col("extra")
                                   != F.concat(F.lit("x"), F.col("id")))
                            )
                        ).count()
                        v += sub.filter(
                            (F.col("id") < b) & F.col("extra").isNotNull()
                        ).count()
                    viol = v
                    break
                except Exception:  # noqa: BLE001 — racing the live sink
                    time.sleep(2.0)
            counters["extra_violations"] = viol
            ok = viol == 0
    finally:
        with open(stop_file, "w") as fh:
            fh.write("stop")
        try:
            if child.proc is not None:
                child.proc.wait(90)
        except subprocess.TimeoutExpired:
            child.kill()
        for s in streams:
            s.stop()

    result: dict = {}
    try:
        with open(cfg["result_file"]) as fh:
            # Restart count of the FINAL incarnation only — earlier
            # incarnations died without reporting, by design.
            result["restarts"] = json.load(fh)["restarts"]
    except (OSError, ValueError, KeyError):
        pass
    return _finish(ok, t0, expected, counters, result)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--duration", type=float, default=300.0)
    ap.add_argument("--streams", type=int, default=4)
    ap.add_argument("--seed", type=int, default=8)
    ap.add_argument(
        "--max-records-per-batch",
        type=int,
        default=30_000,
        help="per-stream micro-batch cap passed to the reader "
        "(kill-supervisor mode): bounds the post-SIGKILL catch-up "
        "batch so sink memory scales with the cap, not with "
        "streams x downtime (r12: 48 uncapped streams OOM-looped a "
        "1g child heap)",
    )
    ap.add_argument("--child-config", help=argparse.SUPPRESS)
    ap.add_argument(
        "--kill-supervisor",
        action="store_true",
        help="run the supervised query in a CHILD process (own Spark "
        "driver) and SIGKILL its whole process group at ~35%%/55%%/80%% "
        "of the chaos window — with --alter the 55%%/80%% kills land "
        "AFTER the ALTER boundary while the checkpoint may still replay "
        "pre-ALTER rows, soaking the r10 persisted {schema, "
        "null_missing} cache (streaming/restart.py) that pytest pins "
        "but no chaos run had exercised (VERDICT r10 item 6)",
    )
    ap.add_argument(
        "--alter",
        action="store_true",
        help="inject one mid-chaos ALTER TABLE (a new 'extra' varchar "
        "column) on every stream at half duration; the end-state check "
        "additionally verifies extra='x<id>' on every post-ALTER row and "
        "NULL backfill on every pre-ALTER row (r9: the schema-change "
        "restart path had e2e coverage but had never been soaked)",
    )
    ap.add_argument(
        "--shared-gtid-space",
        action="store_true",
        help="all streams emit IDENTICAL (domain, server_id, sequence) "
        "triples (active-active servers) and each stream gets a sourceId; "
        "the stamped _source_id discriminator must keep every colliding "
        "envelope apart in the shared sink (r9, VERDICT r8 item 5)",
    )
    ap.add_argument(
        "--conflict",
        action="store_true",
        help="active-active CONFLICTING writes (r10, VERDICT r9 item 5): "
        "every stream updates the SAME bounded key space (ids 1..500) "
        "while also sharing one GTID space (identical envelope triples, "
        "implies --shared-gtid-space); the sink reconciles with the "
        "documented cross-source last-writer-wins order (timestamp, "
        "_source_id, sequence, event_number) and the end state is "
        "asserted exactly: every key holds its computed winner's value",
    )
    args = ap.parse_args()
    if args.child_config:
        return _child_main(args.child_config)
    if args.conflict:
        args.shared_gtid_space = True
    if args.conflict and args.alter and not args.kill_supervisor:
        # The kill-supervisor path models the composition (r13: the
        # winner tuple carries the winning event's recorded ``extra``);
        # the in-process path still checks the two contracts separately.
        ap.error(
            "--conflict + --alter is composed only under --kill-supervisor; "
            "run the in-process modes separately"
        )
    if args.kill_supervisor and args.shared_gtid_space and not args.conflict:
        ap.error("--kill-supervisor composes with --alter or --conflict")
    if args.kill_supervisor:
        return _run_kill_supervisor(args)
    rng = random.Random(args.seed)
    KEY_SPACE = 500

    from pyspark.sql import SparkSession

    from maxscale_cdc_connector_spark.sources.cdc_datasource import MaxScaleCDCDataSource
    from maxscale_cdc_connector_spark.streaming.ops import SnapshotSink
    from maxscale_cdc_connector_spark.streaming.restart import run_supervised

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("cdc_soak")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(MaxScaleCDCDataSource)

    streams = [
        StreamState(
            i,
            shared_gtid_space=args.shared_gtid_space,
            key_space=KEY_SPACE if args.conflict else None,
            seed=args.seed,
        )
        for i in range(args.streams)
    ]
    scratch = tempfile.mkdtemp(prefix="cdc_soak_")
    if args.conflict:
        # ONE reconciled row per key across all writers: key on id only,
        # merge by the documented cross-source LWW total order.
        snap = SnapshotSink(
            os.path.join(scratch, "snapshot"),
            ["id"],
            order_cols=("timestamp", "_source_id", "sequence", "event_number"),
        )
    else:
        snap = SnapshotSink(os.path.join(scratch, "snapshot"), ["name", "id"])
    ckpt = os.path.join(scratch, "ckpt")

    options = {
        "host": "127.0.0.1",
        "user": "soak",
        "password": "soak",
        "schemaRecord": json.dumps(TEST_SCHEMA_RECORD),
        "pollseconds": "0.3",
        "maxbatchseconds": "2",
    }
    options["streams"] = json.dumps(
        [
            {"table": s.table, "port": s.port}
            | ({"sourceId": f"src{s.idx}"} if args.shared_gtid_space else {})
            for s in streams
        ]
    )
    options["frontierDir"] = os.path.join(scratch, "frontier")

    chaos_until = time.time() + args.duration
    stop_all = threading.Event()
    counters = {"restarts_injected": 0, "workers_killed": 0, "bursts": 0}

    def feeder(st: StreamState) -> None:
        while time.time() < chaos_until:
            # trickle ~4 s at ~10 ev/s
            t_end = min(time.time() + 4.0, chaos_until)
            while time.time() < t_end:
                st.push(1)
                time.sleep(0.1)
            if time.time() >= chaos_until:
                break
            st.push(2000)  # burst
            counters["bursts"] += 1
            time.sleep(1.0)

    def server_chaos() -> None:
        while time.time() < chaos_until:
            time.sleep(rng.uniform(12.0, 22.0))
            if time.time() >= chaos_until:
                break
            st = rng.choice(streams)
            print(f"[soak] t={time.time()-t0:.1f}s restarting server "
                  f"s{st.idx} (head seq {st.next_seq - 1})", flush=True)
            st.restart(downtime=rng.uniform(0.3, 1.0))
            counters["restarts_injected"] += 1

    def alter_chaos() -> None:
        # One ALTER at half duration, rolled across every stream —
        # streams converge to the new schema within milliseconds; the
        # supervised query may consume several SchemaChangedError
        # restarts while laggard streams still serve the old version.
        time.sleep(args.duration / 2.0)
        if time.time() >= chaos_until:
            return
        new_schema = dict(TEST_SCHEMA_RECORD)
        new_schema["fields"] = TEST_SCHEMA_RECORD["fields"] + [
            {"name": "extra", "type": "string", "real_type": "varchar",
             "length": 16}
        ]
        for st in streams:
            st.alter(new_schema)
        counters["alters"] = 1
        print(
            f"[soak] t={time.time()-t0:.1f}s ALTER pushed to all streams "
            f"(boundaries { {f's{st.idx}': st.alter_seq for st in streams} })",
            flush=True,
        )

    def worker_chaos() -> None:
        while time.time() < chaos_until:
            time.sleep(rng.uniform(10.0, 18.0))
            if time.time() >= chaos_until:
                break
            victims = _python_worker_pids()
            if victims:
                pid = rng.choice(victims)
                try:
                    os.kill(pid, signal.SIGKILL)
                    print(f"[soak] t={time.time()-t0:.1f}s killed worker {pid}",
                          flush=True)
                    counters["workers_killed"] += 1
                except OSError:
                    pass

    def attach(df):
        return (
            df.writeStream.foreachBatch(snap)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    done = threading.Event()
    result: dict = {}

    def supervise() -> None:
        try:
            result["restarts"] = run_supervised(
                spark,
                options,
                attach,
                max_restarts=1000,
                initial_backoff=0.3,
                max_backoff=5.0,
                stop_when=done.is_set,
                timeout=args.duration + 600.0,
            )
        except Exception as exc:  # noqa: BLE001 — surfaced in summary
            result["error"] = f"{type(exc).__name__}: {str(exc)[:20000]}"

    feeders = [
        threading.Thread(target=feeder, args=(s,), daemon=True) for s in streams
    ]
    threads = [threading.Thread(target=supervise, daemon=True)]
    threads += feeders
    threads += [
        threading.Thread(target=server_chaos, daemon=True),
        threading.Thread(target=worker_chaos, daemon=True),
    ]
    if args.alter:
        threads.append(threading.Thread(target=alter_chaos, daemon=True))
    t0 = time.time()
    for t in threads:
        t.start()

    ok = False
    try:
        # Wait out the chaos window, then let the stream drain to the
        # exact end state (all servers alive, no more faults).
        while time.time() < chaos_until:
            time.sleep(2.0)
        # Join the feeders BEFORE freezing `expected`: a feeder that
        # entered its last push just before the window closed may still
        # be appending, and next_seq read mid-push under-counts — the
        # drain's exact-equality check then chases a snapshot that is
        # legitimately one row AHEAD of `expected` forever (r9 fix: the
        # single-stream soak hit exactly this off-by-one).
        _join_feeders_or_die(feeders)
        expected = {
            f"s{s.idx}": set(range(1, s.next_seq)) for s in streams
        }
        total = sum(len(v) for v in expected.values())
        print(f"[soak] chaos window closed: {total} events pushed, "
              f"{counters['restarts_injected']} server restarts, "
              f"{counters['workers_killed']} workers killed, "
              f"{counters['bursts']} bursts; draining...", flush=True)
        drain_deadline = time.time() + float(os.environ.get("SOAK_DRAIN_S", "420"))
        if args.conflict:
            # Expected reconciled winner per key, computed from the FULL
            # recorded push history across every stream under the same
            # total order the sink merges with.
            best: dict[int, tuple] = {}
            for st in streams:
                src = f"src{st.idx}"
                for ev in st.events:
                    ordk = (ev["timestamp"], src, ev["sequence"], ev["event_number"])
                    k = ev["id"]
                    if k not in best or ordk > best[k][0]:
                        best[k] = (ordk, ev["name"], src)
            expected_map = {k: (v[1], v[2]) for k, v in best.items()}
            got_map: dict[int, tuple] = {}
            while time.time() < drain_deadline and "error" not in result:
                time.sleep(5.0)
                try:
                    cur = snap.snapshot(spark)
                    rows = cur.select("id", "name", "_source_id").collect()
                    got_map = {r["id"]: (r["name"], r["_source_id"]) for r in rows}
                    diff = sum(
                        1 for k, v in expected_map.items() if got_map.get(k) != v
                    )
                    print(
                        f"[soak] conflict drain poll: {len(got_map)} keys, "
                        f"{diff} of {len(expected_map)} not yet at winner",
                        flush=True,
                    )
                    if got_map == expected_map:
                        break
                except FileNotFoundError:
                    continue
                except Exception:  # noqa: BLE001 — racing the live sink
                    continue
            ok = got_map == expected_map and "error" not in result
            if not ok:
                losers = [
                    (k, got_map.get(k), v)
                    for k, v in sorted(expected_map.items())
                    if got_map.get(k) != v
                ]
                print(f"[soak] conflict mismatches (first 20): {losers[:20]}",
                      flush=True)
            counters["conflict_keys"] = len(expected_map)
            done.set()
            threads[0].join(60)
            return _finish(ok, t0, expected, counters, result)
        got: dict[str, set[int]] = {}
        while time.time() < drain_deadline and "error" not in result:
            time.sleep(5.0)
            try:
                cur = snap.snapshot(spark)
                rows = cur.groupBy("name").agg(
                    {"id": "count"}
                ).collect()
                sizes = {r["name"]: r["count(id)"] for r in rows}
                print(f"[soak] drain poll: have {sizes} want "
                      f"{ {k: len(v) for k, v in expected.items()} }", flush=True)
                if sizes == {k: len(v) for k, v in expected.items()}:
                    got = {
                        name: {
                            r["id"]
                            for r in cur.filter(cur.name == name).select("id").collect()
                        }
                        for name in expected
                    }
                    break
            except FileNotFoundError:
                continue
            except Exception:  # noqa: BLE001 — a failed poll is retried,
                continue  # not fatal
        if not got:
            # Deadline hit: dump what is missing, as contiguous ranges.
            try:
                cur = snap.snapshot(spark)
                for name, want in expected.items():
                    have = {
                        r["id"]
                        for r in cur.filter(cur.name == name).select("id").collect()
                    }
                    miss = sorted(want - have)
                    if miss:
                        ranges, lo = [], miss[0]
                        prev = lo
                        for x in miss[1:]:
                            if x != prev + 1:
                                ranges.append((lo, prev)); lo = x
                            prev = x
                        ranges.append((lo, prev))
                        print(f"[soak] {name} missing {len(miss)} ids, "
                              f"ranges={ranges[:20]}", flush=True)
            except Exception as exc:  # noqa: BLE001
                print(f"[soak] miss-dump failed: {exc!r}", flush=True)
        ok = got == expected and "error" not in result
        if ok and args.alter and counters.get("alters"):
            # Widened-schema value check: every post-ALTER row carries
            # its exact extra value; every pre-ALTER row is NULL-filled
            # (rows written under the old schema read as NULL through
            # the manifest's widened schema; rows replayed post-ALTER are backfilled by
            # nullMissingColumns — both must land NULL, never a value).
            from pyspark.sql import functions as F

            viol = None
            for _attempt in range(5):
                # The query is still live here; a failed read is
                # retried like the drain loop's, never a traceback on a
                # correct run.
                try:
                    cur = snap.snapshot(spark)
                    v = 0
                    for st in streams:
                        sub = cur.filter(F.col("name") == f"s{st.idx}")
                        b = st.alter_seq
                        v += sub.filter(
                            (F.col("id") >= b)
                            & (
                                F.col("extra").isNull()
                                | (
                                    F.col("extra")
                                    != F.concat(F.lit("x"), F.col("id"))
                                )
                            )
                        ).count()
                        v += sub.filter(
                            (F.col("id") < b) & F.col("extra").isNotNull()
                        ).count()
                    viol = v
                    break
                except Exception:  # noqa: BLE001 — racing the live sink
                    time.sleep(2.0)
            counters["extra_violations"] = viol
            ok = viol == 0
        done.set()
        threads[0].join(60)
    finally:
        done.set()
        for s in streams:
            s.stop()

    return _finish(ok, t0, expected, counters, result)


def _finish(ok, t0, expected, counters, result) -> int:
    """Print the one-line summary and map ok → exit code."""
    print(json.dumps({
        "soak_ok": ok,
        "duration_s": round(time.time() - t0, 1),
        "events_pushed": sum(len(v) for v in expected.values()),
        "per_stream": {k: len(v) for k, v in expected.items()},
        "server_restarts_injected": counters["restarts_injected"],
        "workers_killed": counters["workers_killed"],
        "bursts": counters["bursts"],
        "query_restarts": result.get("restarts"),
        "supervisor_kills": counters.get("supervisor_kills"),
        "supervisor_respawns_unplanned": counters.get("supervisor_respawns_unplanned"),
        "alters": counters.get("alters", 0),
        "extra_violations": counters.get("extra_violations"),
        "conflict_keys": counters.get("conflict_keys"),
        "error": result.get("error"),
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
