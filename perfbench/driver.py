"""The engine process of one benchmark run (a fresh Python + JVM).

    python3 perfbench/driver.py --workload W --work DIR --seconds S --trace 0|1

Reads the inputs ``gen.py`` wrote under DIR, runs the workload through
the engine's public entry points and writes ``DIR/result.json`` with
raw timings and, when traced, the per-layer figures.  ``run.py`` starts
this process, samples its memory, checks the outputs and prints the
result.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import statistics
import sys
import time

PROC_T0 = float(os.environ.get("PERFBENCH_T0", time.time()))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hogzilla_spark import get_spark  # noqa: E402
from hogzilla_spark.state import store  # noqa: E402

from gen import n_open_files  # noqa: E402
from tracing import StageBytes, Tracer  # noqa: E402

BATCH_TIME = 1_700_021_600  # end of the generated 6-hour cycle

SFLOW_DETECTORS = [
    "ftp_talkers", "ftp_servers", "smtp_talkers", "p2p_talkers",
    "media_streaming_clients", "dns_tunnel", "icmp_tunnel", "udp_amplifier",
    "abused_smtp", "alien_accessing_many_hosts", "cc_botnet", "ddos_attack",
    "top_talkers", "os_inventory",
]
STATEFUL_DETECTORS = [
    "atypical_tcp_port", "atypical_alien_tcp_port", "atypical_pairs",
    "atypical_data", "alien_network_profile", "horizontal_portscan",
    "vertical_portscan",
]
# per_detector result keys of the alert-producing detectors, by family
STATELESS_ALERTS = [
    "smtp_talkers", "p2p", "media_client", "dns_tunnel", "icmp_tunnel",
    "udp_amplifier", "abused_smtp", "alien_many_hosts", "cc_botnet", "ddos",
    "top_talkers",
]
STATEFUL_ALERTS = [
    "atypical_tcp_port", "atypical_alien_tcp_port", "atypical_pairs",
    "atypical_data", "horizontal_portscan", "vertical_portscan",
]


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


def session(work: str, trace: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        # the whole heap committed and touched at start: otherwise how
        # much of it the collector touches before the run ends varies
        # by GBs from run to run, and peak memory measures that
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch "
                                         f"-Dderby.system.home={work}",
    }
    if trace:
        # status REST API for shuffle/spill bytes; keep every job and
        # stage of the run visible to the status tracker
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def run_cycle(spark, work: str, tracer: Tracer | None) -> dict:
    from hogzilla_spark.detectors import base as B
    from hogzilla_spark.detectors import sflow as D
    from hogzilla_spark.detectors import stateful as S
    from hogzilla_spark.ml import kmeans as K
    from hogzilla_spark.plans import batch as P
    from hogzilla_spark.sources import catalog

    state = f"{work}/state"
    out = f"{work}/out"
    # untimed: the pre-seeded store is committed through the engine
    store.save(catalog.read_table(spark, f"{work}/store_seed", "histograms"), state)

    summaries: list = []
    if tracer:
        tracer.wrap(P, "run_full_batch", "plans.batch.run_full_batch")
        tracer.wrap(P, "run_sflow_batch", "plans.batch.run_sflow_batch")
        tracer.wrap(P, "sflow_summary", "operators.rollup.sflow_summary", keep=summaries)
        tracer.wrap(P, "icmp_summary", "operators.rollup.icmp_summary")
        for name in SFLOW_DETECTORS:
            tracer.wrap(D, name, f"detectors.sflow.{name}")
        for name in STATEFUL_DETECTORS:
            tracer.wrap(S, name, f"detectors.stateful.{name}")
        tracer.wrap(K, "dns_kmeans", "ml.kmeans.dns")
        tracer.wrap(K, "http_kmeans", "ml.kmeans.http")
        tracer.wrap(K, "histogram_clustering", "ml.kmeans.hist_clusters")
        tracer.wrap(store, "load", "state.store.load")
        with tracer.span("sources.scan") as sp:
            rows = catalog.read_table(spark, f"{work}/sflows", "sflows").count()
        scan = {"sources.scan_s": sp.end - sp.start, "sources.rows": rows}

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    # --- the cycle: load state -> detect -> commit the sinks ------------
    # run_and_persist's sink sequence without its final store.upsert and
    # with the stateless detectors' alerts only: the full sequence does
    # not fit the benchmark's time budget (README.md, "Scope")
    t0 = time.perf_counter()
    with span("cycle"):
        sflows = catalog.read_table(spark, f"{work}/sflows", "sflows")
        mynets = catalog.read_table(spark, f"{work}/mynets", "mynets")
        reputation = catalog.read_table(spark, f"{work}/reputation", "reputation")
        histograms = store.load(spark, state).persist()
        result = P.run_full_batch(
            spark, sflows, mynets, reputation, histograms, flows=None, batch_time=BATCH_TIME
        )
        with span("plans.batch.sink.events"):
            alerts = result.per_detector[STATELESS_ALERTS[0]]
            for key in STATELESS_ALERTS[1:]:
                alerts = alerts.unionByName(result.per_detector[key])
            alerts.write.mode("append").parquet(f"{out}/events.parquet")
        alerts_s = time.perf_counter() - t0
        with span("plans.batch.sink.clusters"):
            for name, sink in (("hist_clusters", "clusters"), ("hist_cluster_members", "cluster_members")):
                result.per_detector[name].write.mode("overwrite").parquet(f"{out}/{sink}.parquet")
        with span("plans.batch.sink.inventory"):
            result.inventory.write.mode("overwrite").parquet(f"{out}/inventory.parquet")
        with span("plans.batch.sink.reputation"):
            result.new_reputation.write.mode("append").parquet(f"{out}/reputation_learned.parquet")
        with span("plans.batch.sink.signatures"):
            B.signatures_df(spark).write.mode("overwrite").parquet(f"{out}/signatures.parquet")
    cycle_s = time.perf_counter() - t0
    res = {"cycle_s": cycle_s, "alerts_s": alerts_s}
    if tracer:
        res["layers"], res["stateful_fired"] = cycle_layers(
            spark, tracer, summaries[0], result, histograms, cycle_s, scan)
    histograms.unpersist()
    res["state_disk_mb"] = dir_mb(state)
    return res


def cycle_layers(spark, tracer: Tracer, summary, result, histograms, cycle_s, scan) -> dict:
    """Per-layer figures of the traced cycle.  In-cycle self times plus
    the residual add up to the traced cycle time.  The detector
    families are also timed after the cycle, one frame at a time
    (``probe.*`` spans): inside the cycle their work runs fused in the
    sink writes, so only the isolated re-execution can attribute it."""
    t = tracer
    cycle_idx = next(i for i, s in enumerate(t.spans) if s.name == "cycle")
    inside = [i for i in range(len(t.spans)) if cycle_idx in t.ancestors(i)]

    def self_in(prefix: str) -> float:
        return sum(t.self_time(i) for i in inside
                   if t.spans[i].name == prefix or t.spans[i].name.startswith(prefix + "."))

    m: dict[str, float] = dict(scan)
    groups = {
        "state.store": self_in("state.store"),
        "plans.batch.build": self_in("plans.batch.run_full_batch") + self_in("plans.batch.run_sflow_batch"),
        "plans.batch.sink": self_in("plans.batch.sink"),
        "operators.rollup": self_in("operators.rollup"),
        "detectors.sflow": self_in("detectors.sflow"),
        "detectors.stateful": self_in("detectors.stateful"),
        "ml.kmeans": self_in("ml.kmeans"),
    }
    for k, v in groups.items():
        m[f"{k}.self_s"] = v
    m["trace.cycle_s"] = cycle_s
    m["trace.residual_s"] = cycle_s - sum(groups.values())

    cycle_jobs = t.spans[cycle_idx].jobs
    n_stages, n_tasks, cycle_stages = t.stages_tasks(cycle_jobs)
    m.update({"spark.jobs": len(cycle_jobs), "spark.stages": n_stages, "spark.tasks": n_tasks})
    build = [s for s in t.spans if s.name == "plans.batch.run_full_batch"][0]
    m["plans.batch.build_s"] = build.end - build.start
    m["plans.batch.build_jobs"] = len(build.jobs)
    m["plans.batch.sink_s"] = groups["plans.batch.sink"]
    m["state.store.load_s"] = t.total("state.store.load", self_only=False)

    with t.span("probe.operators.rollup") as sp:
        m["operators.rollup.rows_out"] = summary.count()
    m["operators.rollup.s"] = t.total("operators.rollup", self_only=False) + (sp.end - sp.start)
    m["operators.rollup.jobs"] = len(t.jobs("operators.rollup")) + len(sp.jobs)

    fam_alerts = {"detectors.sflow": 0, "detectors.stateful": 0}
    stateful_fired = []  # the cycle does not commit these; the gate checks them here
    for fam, keys in (("detectors.sflow", STATELESS_ALERTS), ("detectors.stateful", STATEFUL_ALERTS)):
        for key in keys:
            with t.span(f"probe.{fam}.{key}") as sp:
                if fam == "detectors.sflow":
                    n = result.per_detector[key].count()
                else:
                    rows = result.per_detector[key].select(
                        "signature_id", "lower_ip_str", "upper_ip_str").collect()
                    stateful_fired += [[r[0], ip] for r in rows for ip in r[1:]]
                    n = len(rows)
            fam_alerts[fam] += n
            m[f"{fam}.{key}.s"] = sp.end - sp.start
            m[f"{fam}.{key}.jobs"] = len(sp.jobs)
    for fam in ("detectors.sflow", "detectors.stateful"):
        m[f"{fam}.s"] = t.total(fam, self_only=False) + t.total(f"probe.{fam}", self_only=False)
        m[f"{fam}.jobs"] = len(t.jobs(fam) | t.jobs(f"probe.{fam}"))
    m["detectors.sflow.alerts"] = fam_alerts["detectors.sflow"]
    m["detectors.stateful.alerts"] = fam_alerts["detectors.stateful"]

    m["ml.kmeans.dns_s"] = t.total("ml.kmeans.dns", self_only=False)
    m["ml.kmeans.http_s"] = t.total("ml.kmeans.http", self_only=False)
    m["ml.kmeans.hist_clusters_s"] = t.total("ml.kmeans.hist_clusters", self_only=False)
    m["ml.kmeans.jobs"] = len(t.jobs("ml.kmeans"))
    m["state.store.rows"] = histograms.count()

    sb = StageBytes(spark.sparkContext)
    m["spark.shuffle_mb"], m["spark.spill_mb"] = sb.mb(cycle_stages)
    for layer in ("plans.batch.sink", "ml.kmeans", "state.store",
                  "probe.detectors.sflow", "probe.detectors.stateful"):
        stages = t.stages_tasks(t.jobs(layer))[2]
        key = layer.removeprefix("probe.")
        m[f"{key}.shuffle_mb"], m[f"{key}.spill_mb"] = sb.mb(stages)
    m["trace.overhead_s"] = t.overhead_within(cycle_idx)
    return m, stateful_fired


# --- auth stream ---------------------------------------------------------


def run_auth(spark, work: str, tracer: Tracer | None, seconds: float) -> dict:
    from pyspark.sql import DataFrameWriter

    from hogzilla_spark.sources import catalog
    from hogzilla_spark.streaming import auth_stream as A

    with open(f"{work}/plan.json") as fh:
        plan = json.load(fh)
    state = f"{work}/state"
    seed = catalog.read_table(spark, f"{work}/store_seed", "histograms").unionByName(
        catalog.read_table(spark, f"{work}/store_seed_planted", "histograms")
    )
    store.save(seed, state)  # untimed: the pre-seeded store

    written = {"bytes": 0, "rows": 0, "update_rows": 0}
    if tracer:
        import pyarrow.parquet as pq

        tracer.wrap(A, "auth_profile", "detectors.auth.build")
        tracer.wrap(store, "load", "state.store.load")
        save = store.save
        apply_updates = store.apply_updates

        def apply_shim(saved, updates):
            with tracer.span("trace.probe"):
                written["update_rows"] += updates.count()
            return apply_updates(saved, updates)

        def save_shim(df, path, batch_id=None):
            with tracer.span("state.store.upsert"):
                save(df, path, batch_id=batch_id)
            with tracer.span("trace.probe"):
                gen = os.path.join(path, open(os.path.join(path, "CURRENT")).readline().strip())
                for f in glob.glob(f"{gen}/*.parquet"):
                    written["bytes"] += os.path.getsize(f)
                    written["rows"] += pq.ParquetFile(f).metadata.num_rows

        store.apply_updates = apply_shim
        store.save = save_shim
        write = DataFrameWriter.parquet

        def write_shim(self, path, *a, **kw):
            with tracer.span("detectors.auth.write"):
                return write(self, path, *a, **kw)

        DataFrameWriter.parquet = write_shim

    inp = f"{work}/auth_in"
    ckpt = f"{work}/checkpoint"
    query = A.start_auth_stream(
        spark, inp, state, f"{work}/alerts", ckpt,
        trigger={"processingTime": "0 seconds"},
    )
    if tracer:
        tracer.groups.append(str(query.runId))
    n_warm = plan["warmup_files"]
    _wait_files(ckpt, n_warm, timeout=120)
    if tracer:
        # per-layer figures cover the open loop only, like the end-to-end ones
        tracer.reset()
        jobs_before = tracer.job_ids()
        written.update(bytes=0, rows=0, update_rows=0)
    with open(f"{work}/ready", "w") as fh:
        fh.write("1")
    # run.py starts the feeder on "ready"; it writes "fed" when done
    expected = n_warm + n_open_files(seconds, plan["interval_s"])
    _wait_files(ckpt, expected, timeout=seconds + 120)
    query.stop()
    res = {
        "progress": [json.loads(p.json) for p in query.recentProgress],
        "last_applied_batch": store.last_applied_batch(state),
        "store_entries": store.load(spark, state).count(),
        "user_sizes": {r.hist_name[len("HIST22-"):]: r.size for r in store.load(spark, state)
                       .filter("hist_name LIKE 'HIST22-u%'").select("hist_name", "size").collect()},
        "state_disk_mb": dir_mb(state),
    }
    if tracer:
        res["layers"] = auth_layers(
            spark, tracer, jobs_before,
            [p for p in res["progress"] if p["batchId"] >= n_warm], written)
    return res


def _committed_files(ckpt: str) -> int:
    n = 0
    for log in glob.glob(f"{ckpt}/sources/0/*"):
        name = os.path.basename(log)
        if name.isdigit() and os.path.exists(f"{ckpt}/commits/{name}"):
            with open(log) as fh:
                n += sum(1 for ln in fh if ln.startswith("{"))
    return n


def _wait_files(ckpt: str, n: int, timeout: float) -> None:
    end = time.time() + timeout
    while _committed_files(ckpt) < n:
        if time.time() > end:
            raise TimeoutError(f"stream committed {_committed_files(ckpt)} of {n} files")
        time.sleep(0.05)


def auth_layers(spark, tracer: Tracer, jobs_before, progress, written) -> dict:
    t = tracer
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    d = [p["durationMs"] for p in batches]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m: dict[str, float] = {}
    m["streaming.batches"] = len(batches)
    m["streaming.batch_s"] = med([x.get("triggerExecution", 0) for x in d]) / 1e3
    m["streaming.add_batch_s"] = med([x.get("addBatch", 0) for x in d]) / 1e3
    m["streaming.planning_s"] = med([x.get("queryPlanning", 0) for x in d]) / 1e3
    m["streaming.commit_s"] = med([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]) / 1e3
    run_jobs = t.job_ids() - jobs_before
    probe_jobs = t.jobs("trace.probe")
    engine_jobs = run_jobs - probe_jobs
    m["streaming.jobs_per_batch"] = len(engine_jobs) / max(1, len(batches))
    n_stages, n_tasks, stages = t.stages_tasks(frozenset(engine_jobs))
    m.update({"spark.jobs": len(engine_jobs), "spark.stages": n_stages, "spark.tasks": n_tasks})
    # detector work: plan build plus the alert write that executes it
    # (writes nested in a state commit belong to the store)
    auth_write = [i for i, s in enumerate(t.spans)
                  if s.name == "detectors.auth.write"
                  and not any(t.spans[p].name == "state.store.upsert" for p in t.ancestors(i))]
    m["detectors.auth.s"] = t.total("detectors.auth.build", self_only=False) + sum(
        t.spans[i].end - t.spans[i].start for i in auth_write)
    auth_jobs = t.jobs("detectors.auth.build")
    for i in auth_write:
        auth_jobs |= t.spans[i].jobs
    m["detectors.auth.jobs"] = len(auth_jobs)
    m["state.store.load_s"] = t.total("state.store.load", self_only=False)
    m["state.store.upsert_s"] = t.total("state.store.upsert", self_only=False)
    m["state.store.upsert_jobs"] = len(t.jobs("state.store.upsert"))
    m["state.store.written_mb"] = written["bytes"] / 2**20
    m["state.store.write_amp"] = written["rows"] / max(1, written["update_rows"])
    m["state.store.rows"] = written["rows"] / max(1, len(batches))
    sb = StageBytes(spark.sparkContext)
    m["spark.shuffle_mb"], m["spark.spill_mb"] = sb.mb(stages)
    for layer in ("state.store", "detectors.auth"):
        st = t.stages_tasks(t.jobs(layer))[2]
        m[f"{layer}.shuffle_mb"], m[f"{layer}.spill_mb"] = sb.mb(st)
    m["trace.overhead_s"] = t.overhead_s
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    spark = session(args.work, bool(args.trace))
    setup_s = time.time() - PROC_T0
    tracer = Tracer(spark.sparkContext) if args.trace else None
    try:
        if args.workload == "ids_cycle":
            res = run_cycle(spark, args.work, tracer)
        else:
            res = run_auth(spark, args.work, tracer, args.seconds)
        res["setup_s"] = setup_s
        if tracer:
            tracer.dump(f"{args.work}/spans.json")
        with open(f"{args.work}/result.json", "w") as fh:
            json.dump(res, fh)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
