"""IDS benchmark entry point.

    python3 perfbench/run.py --workload ids_cycle|auth_stream|all \\
        --seed N --seconds S --trace 0|1

One run: the generator process writes the workload's inputs from the
seed, a fresh engine process (``driver.py``: Python + JVM) runs the
workload, this process samples the engine's peak memory, checks the
committed outputs against what the generator planted, and prints one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (README.md defines both).  Everything a run writes
lives under a temporary directory in ``.perfbench_tmp/`` of the
checkout and is removed when it ends.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ids_cycle", "auth_stream")
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")
RUN_TIMEOUT_S = 165  # the whole run must end within 180 s
# the engine's own heap floor (session._default_driver_memory), and its
# choice on any host with less than about 20 GB available
DRIVER_MEMORY = "8g"
E2E = ["setup_s", "cycle_s", "peak_rss_mb", "state_disk_mb", "alert_latency_s"]
UNITS = {"setup_s": "s", "cycle_s": "s", "peak_rss_mb": "MiB", "state_disk_mb": "MiB",
         "alert_latency_s": "s"}
STATELESS = ["smtp_talkers", "p2p", "media_client", "dns_tunnel", "icmp_tunnel",
             "udp_amplifier", "abused_smtp", "alien_many_hosts", "cc_botnet", "ddos",
             "top_talkers"]
STATEFUL = ["atypical_tcp_port", "atypical_alien_tcp_port", "atypical_pairs",
            "atypical_data", "horizontal_portscan", "vertical_portscan"]
# every traced run reports all of these; a layer a workload bypasses reads 0
PER_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_mb", "spark.spill_mb",
    "trace.cycle_s", "trace.residual_s", "trace.overhead_s",
    "sources.scan_s", "sources.rows",
    "operators.rollup.s", "operators.rollup.jobs", "operators.rollup.rows_out",
    "operators.rollup.self_s",
    "plans.batch.build_s", "plans.batch.build_jobs", "plans.batch.build.self_s",
    "plans.batch.sink_s", "plans.batch.sink.shuffle_mb", "plans.batch.sink.spill_mb",
    "detectors.sflow.s", "detectors.sflow.jobs", "detectors.sflow.alerts",
    "detectors.sflow.self_s", "detectors.sflow.shuffle_mb", "detectors.sflow.spill_mb",
    *[f"detectors.sflow.{d}.{m}" for d in STATELESS for m in ("s", "jobs")],
    "detectors.stateful.s", "detectors.stateful.jobs", "detectors.stateful.alerts",
    "detectors.stateful.self_s",
    "detectors.stateful.shuffle_mb", "detectors.stateful.spill_mb",
    *[f"detectors.stateful.{d}.{m}" for d in STATEFUL for m in ("s", "jobs")],
    "ml.kmeans.dns_s", "ml.kmeans.http_s", "ml.kmeans.hist_clusters_s", "ml.kmeans.jobs",
    "ml.kmeans.self_s", "ml.kmeans.shuffle_mb", "ml.kmeans.spill_mb",
    "state.store.load_s", "state.store.rows", "state.store.upsert_s",
    "state.store.upsert_jobs", "state.store.written_mb", "state.store.write_amp",
    "state.store.self_s", "state.store.shuffle_mb", "state.store.spill_mb",
    "detectors.auth.s", "detectors.auth.jobs", "detectors.auth.shuffle_mb",
    "detectors.auth.spill_mb",
    "streaming.batches", "streaming.batch_s", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.commit_s", "streaming.jobs_per_batch",
]


def _stat(pid: int) -> tuple[str, int, int]:
    """(command name, parent pid, process group) of a live process."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    fields = raw.rsplit(")", 1)[1].split()
    return raw[raw.index("(") + 1: raw.rindex(")")], int(fields[1]), int(fields[2])


def _pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def _group_members(pgid: int) -> list[int]:
    out = []
    for pid in _pids():
        try:
            if _stat(pid)[2] == pgid:
                out.append(pid)
        except (OSError, ValueError):
            pass
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of the engine's driver Python process plus
    its JVM, read from /proc every 50 ms.  Other processes of the tree
    are left out: a process the JVM forks shares the JVM's pages until
    it execs, and counting it would double the JVM."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.jvm: int | None = None
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmRSS:"):
                    return int(ln.split()[1])
        return 0

    def _find_jvm(self) -> int | None:
        for pid in _pids():
            try:
                name, ppid, _ = _stat(pid)
            except (OSError, ValueError):
                continue
            if ppid == self.pid and name == "java":
                return pid
        return None

    def sample(self) -> int:
        if self.jvm is None:
            self.jvm = self._find_jvm()
        total = 0
        for pid in (self.pid, self.jvm):
            if pid is not None:
                try:
                    total += self._rss_kb(pid)
                except OSError:
                    pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self.sample())
            self._stop_evt.wait(0.05)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _kill_group(pgid: int) -> None:
    """Stop every process of the group and wait until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + 10
        while _group_members(pgid) and time.time() < end:
            time.sleep(0.05)
        if not _group_members(pgid):
            return


def _child_env(work: str) -> dict:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # nproc
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        # the engine sizes its heap from MemAvailable, which other tenants
        # of the host move; a fixed heap keeps runs comparable
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": f"{work}/tmp",
        # every JVM (the spark-submit launcher too) would otherwise keep
        # its perf-data file in /tmp, outside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    })
    env.pop("SPARK_MASTER", None)
    return env


def _start(cmd: list[str], work: str, env: dict) -> subprocess.Popen:
    """Start a process in its own group, stderr to ``<script>.log``."""
    with open(f"{work}/{os.path.basename(cmd[1])}.log", "a") as log:
        return subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True,
                                stdout=subprocess.DEVNULL, stderr=log)


def run_once(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=tmp_root)
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}")
    env = _child_env(work)
    py = sys.executable
    groups: list[int] = []
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        mode = "cycle" if workload == "ids_cycle" else "auth"
        gen = subprocess.run([py, f"{HERE}/gen.py", mode, "--seed", str(seed), "--out", work],
                             cwd=work, env=env, timeout=120, capture_output=True, text=True)
        if gen.returncode != 0:
            raise RuntimeError(f"generator failed:\n{gen.stderr}")
        env["PERFBENCH_T0"] = repr(time.time())
        driver = _start([py, f"{HERE}/driver.py", "--workload", workload, "--work", work,
                         "--seconds", str(seconds), "--trace", str(int(trace))], work, env)
        groups.append(driver.pid)
        sampler = RssSampler(driver.pid)
        sampler.start()
        feeder = None
        if workload == "auth_stream":
            while not os.path.exists(f"{work}/ready"):
                if driver.poll() is not None or time.time() > deadline:
                    break
                time.sleep(0.05)
            else:
                feeder = _start([py, f"{HERE}/gen.py", "feed", "--plan", f"{work}/plan.json",
                                 "--seconds", str(seconds)], work, env)
                groups.append(feeder.pid)
        try:
            code = driver.wait(timeout=max(1.0, deadline - time.time()))
            if feeder is not None:
                feeder.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        sampler.stop()
        if code != 0 or feeder is not None and feeder.returncode != 0:
            with open(f"{work}/driver.py.log") as fh:
                tail = fh.read()[-4000:]
            raise RuntimeError(f"engine process failed (exit {code}):\n{tail}")
        with open(f"{work}/result.json") as fh:
            res = json.load(fh)
        with open(f"{work}/plan.json") as fh:
            plan = json.load(fh)
        res["peak_rss_mb"] = sampler.peak_kb / 1024
        if trace:  # keep the span dump of a traced run
            os.makedirs(SPANS_DIR, exist_ok=True)
            shutil.copy(f"{work}/spans.json", f"{SPANS_DIR}/{workload}-seed{seed}.json")
        if workload == "ids_cycle":
            return check_cycle(work, plan, res, trace)
        return check_auth(work, plan, res, trace)
    finally:
        for g in groups:
            _kill_group(g)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


# --- correctness gates -------------------------------------------------------


class Gate:
    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _read(path: str, columns: list[str] | None = None):
    import pyarrow.parquet as pq

    rows = []
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


def _committed(path: str) -> bool:
    return os.path.exists(f"{path}/_SUCCESS")


def check_cycle(work: str, plan: dict, res: dict, trace: bool) -> dict:
    g = Gate()
    out = f"{work}/out"
    for sink in ("events", "clusters", "cluster_members", "inventory",
                 "reputation_learned", "signatures"):
        g.check(_committed(f"{out}/{sink}.parquet"), f"sink {sink} committed")
    events = _read(f"{out}/events.parquet", ["signature_id", "lower_ip_str", "upper_ip_str"])
    fired = {(e["signature_id"], ip) for e in events for ip in (e["lower_ip_str"], e["upper_ip_str"])}
    for sig, ip in plan["fire"]:
        g.check((sig, ip) in fired, f"planted {sig} on {ip} fires")
    for sig, ip in plan["quiet"]:
        g.check((sig, ip) not in fired, f"near miss {sig} on {ip} stays quiet")
    if trace:  # the stateful detectors run only in the traced run's probes
        fired = {tuple(x) for x in res["stateful_fired"]}
        for sig, ip in plan["fire_stateful"]:
            g.check((sig, ip) in fired, f"planted {sig} on {ip} fires")
        for sig, ip in plan["quiet_stateful"]:
            g.check((sig, ip) not in fired, f"near miss {sig} on {ip} stays quiet")
    inv = {(r["ip"], r["os"]) for r in _read(f"{out}/inventory.parquet")}
    g.check(tuple(plan["inventory"]) in inv, "planted os inventory row")
    learned = {(r["ip"], r["list"]) for r in _read(f"{out}/reputation_learned.parquet")}
    for ip, lst in plan["learned"]:
        g.check((ip, lst) in learned, f"{ip} learned as {lst}")
    for ip, lst in plan["not_learned"]:
        g.check((ip, lst) not in learned, f"near miss {ip} not learned as {lst}")
    metrics = {
        "setup_s": res["setup_s"],
        "cycle_s": res["cycle_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "state_disk_mb": res["state_disk_mb"],
        # every alert of the cycle commits in one write
        "alert_latency_s": res["alerts_s"],
    }
    info = {"latency_samples": 1, "packets": plan["packets"]}
    return _result(g, metrics, res, trace, info)


def _batch_files(ckpt: str) -> dict[int, list[str]]:
    """Committed micro-batch id -> input file names, from the checkpoint."""
    out = {}
    for log in glob.glob(f"{ckpt}/sources/0/*"):
        name = os.path.basename(log)
        if name.isdigit() and os.path.exists(f"{ckpt}/commits/{name}"):
            with open(log) as fh:
                out[int(name)] = [os.path.basename(json.loads(ln)["path"])
                                  for ln in fh if ln.startswith("{")]
    return out


def check_auth(work: str, plan: dict, res: dict, trace: bool) -> dict:
    from gen import AUTH_EXPECT, SEEDED_SIZE, auth_user_counts

    g = Gate()
    ckpt = f"{work}/checkpoint"
    with open(f"{work}/warmup_log.json") as fh:
        staged = json.load(fh)
    with open(f"{work}/feed_log.json") as fh:
        staged += json.load(fh)
    batches = _batch_files(ckpt)
    where: dict[str, list[int]] = {}
    for b, names in batches.items():
        for n in names:
            where.setdefault(n, []).append(b)
    for f in staged:
        g.check(len(where.get(f["name"], [])) == 1, f"{f['name']} committed exactly once")
    # every staged record counted once, read from the engine's state: a
    # background user's HIST22 size is the seeded 20 merged, batch by
    # batch, with that user's logins (halved first past 1,000, as the
    # engine's histogram merge decays)
    index = {s["name"]: i for i, s in enumerate(plan["files"])}
    want: dict[str, int] = {}
    for b in sorted(batches):
        counts: dict[str, int] = {}
        for n in batches[b]:
            for u, c in auth_user_counts(plan["seed"], index[n]).items():
                counts[u] = counts.get(u, 0) + c
        for u, c in counts.items():
            size = want.get(u, SEEDED_SIZE)
            want[u] = (size // 2 if size > 1000 else size) + c
    got = res["user_sizes"]
    wrong = sum(1 for u, size in want.items() if got.get(u) != size)
    g.check(wrong == 0, f"HIST22 sizes of {len(want)} background users ({wrong} differ)")
    for b in batches:
        g.check(_committed(f"{work}/alerts/batch_id={b}"), f"alerts of batch {b} committed")
    g.check(res["last_applied_batch"] == max(batches), "store records the last batch")

    alerts = _read(f"{work}/alerts", ["data"])
    verdicts: dict[str, list[str]] = {}
    for a in alerts:
        d = dict(a["data"])
        verdicts.setdefault(d["userName"], []).append(d["atypicalVars"])
    fed = {f["name"] for f in staged}
    specs = [s for s in plan["files"] if s["name"] in fed]
    for s in specs:
        for suffix, want in AUTH_EXPECT.items():
            user = s["planted"] + suffix
            got = verdicts.pop(user, [])
            g.check(got == ([want] if want else []), f"{user} verdict {want or 'quiet'}")
    g.check(not verdicts, f"no alerts for background users ({len(verdicts)} found)")
    new_users = sum(len(s["new"]) for s in specs)
    g.check(res["store_entries"] == plan["store_entries"] + 3 * new_users,
            "state entries equal seeded plus learned users")

    # latency: creation stamp -> commit of the batch holding the file;
    # every record of a file shares its stamp and its batch
    commit_t = {b: os.path.getmtime(f"{ckpt}/commits/{b}") for b in batches}
    open_files = [f for f in staged if f["phase"] == "open"]
    lat = [commit_t[where[f["name"]][0]] - f["stamp"] for f in open_files]
    open_batches = {where[f["name"]][0] for f in open_files}
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in res["progress"]
            if p["batchId"] in open_batches]
    metrics = {
        "setup_s": res["setup_s"],
        "cycle_s": statistics.median(trig),
        "peak_rss_mb": res["peak_rss_mb"],
        "state_disk_mb": res["state_disk_mb"],
        "alert_latency_s": statistics.median(lat),
    }
    info = {"latency_samples": len(lat), "open_loop_files": len(open_files),
            "generator_late_s": max(f["written"] - f["due"] for f in open_files)}
    return _result(g, metrics, res, trace, info)


def _result(g: Gate, metrics: dict, res: dict, trace: bool, info: dict) -> dict:
    for f in g.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    if trace:
        layers = res["layers"]
        chosen = {k: {"value": layers.get(k, 0.0), "unit": _layer_unit(k)} for k in PER_LAYER}
    else:
        chosen = {k: {"value": metrics[k], "unit": UNITS[k]} for k in E2E}
    info["failed_frac"] = len(g.failures) / g.attempted
    return {"correct": not g.failures, "attempted": g.attempted, "failed": len(g.failures),
            "metrics": chosen, "info": info}


def _layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("write_amp"):
        return "ratio"
    if name.endswith("jobs_per_batch"):
        return "jobs/batch"
    return "count"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="IDS benchmark (see README.md)")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    for name in (WORKLOADS if args.workload == "all" else [args.workload]):
        try:
            out = run_once(name, args.seed, args.seconds, bool(args.trace))
        except Exception as exc:  # the run failed: report it, print no result
            print(f"{name}: {exc}", file=sys.stderr)
            return 1
        info = out.pop("info")
        print(f"{name}: " + ", ".join(
            f"{k}={v['value']:.6g} {v['unit']}" for k, v in out["metrics"].items()
        ) + ", " + ", ".join(f"{k}={v:.6g}" for k, v in info.items()), file=sys.stderr)
        if args.workload == "all":
            print(f"{name}: {json.dumps(out)}")
    if args.workload != "all":
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
