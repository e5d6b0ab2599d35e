"""The full analytics pass — engine equivalent of ``Hogzilla.main``
(src/Hogzilla.scala:37-93) for the sFlow suite.

Dependency DAG (SURVEY.md §4 custom-work item 3; build order preserved
from the reference):

    sflow_summary ──┬─ ftp_talkers ─┬─ p2p ─┬─ media ─┬─ atypical_*
                    │               │       │         ├─ ddos
                    │  ftp_servers ─┘       │         └─ alien profile
                    ├─ smtp_talkers (state guard)
                    ├─ dns/icmp/udp/abused/alien/cc/os (stateless)
                    └─ hPortScan / vPortScan (state)

The reference funnels every inter-detector dependency through
``collect()`` on the driver and caches ``sflowSummary``
(HogSFlow.scala:882).  Here the summary and the four dependency sets
(FTP talker pairs, FTP server IPs, P2P talker IPs, media-client IPs)
are materialized once per cycle through
``sources.catalog.materialize_cut(always=True)``: every consumer reads
them as small materialized leaves instead of re-deriving the
rollup → FTP → P2P → media chain inside its own plan.  Below the cut
gate (``HZ_CUT_MIN_INPUT_BYTES``) that is a ``localCheckpoint``; above
it, the reliable, fault-tolerant checkpoint.  The sets stay DataFrames:
consumers still join them with broadcast anti/semi joins, and only
the home-network prefixes and the two whitelists reach the driver.
``run_and_persist`` releases the cuts when its sinks and the state
commit are done (``sources.catalog.cut_scope``).

Scale notes: every dimension input is broadcast; state scoring is one
equi-join per family; state writing is one upsert per run.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hogzilla_spark.config import DEFAULT, EngineConfig
from hogzilla_spark.detectors import sflow as D
from hogzilla_spark.detectors import stateful as S
from hogzilla_spark.detectors.base import signatures_df
from hogzilla_spark.operators.rollup import icmp_summary, sflow_summary
from hogzilla_spark.sources.catalog import cut_scope, materialize_cut
from hogzilla_spark.state import store

@dataclass
class BatchResult:
    alerts: DataFrame
    state_updates: DataFrame
    inventory: DataFrame
    new_reputation: DataFrame  # (ip/prefix, list, list_type) self-learned
    per_detector: dict[str, DataFrame] = field(default_factory=dict)
    my_nets: list[str] = field(default_factory=list)  # collected mynets prefixes

def run_sflow_batch(
    spark: SparkSession,
    sflows: DataFrame,
    mynets: DataFrame,
    reputation: DataFrame,
    histograms: DataFrame,
    cfg: EngineConfig = DEFAULT,
    batch_time: int = 0,
) -> BatchResult:
    """One full detector pass over a batch of sFlow samples."""
    my_nets = [r.prefix for r in mynets.select("prefix").collect()]
    scfg, hcfg = cfg.sflow, cfg.hist

    # shared per-cycle inputs: computed once, read by every consumer
    summary = materialize_cut(sflow_summary(sflows, my_nets), always=True)
    icmp = icmp_summary(sflows, my_nets)

    # dependency dimensions
    ftp_pairs = materialize_cut(D.ftp_talkers(summary), always=True)
    ftp_ips = materialize_cut(D.ftp_servers(histograms), always=True)
    whitelists = (
        reputation.filter(
            (F.col("list_type") == "whitelist")
            & F.col("list").isin("ProxyServer", "BigProvider")
        )
        .select("list", "ip")
        .collect()
    )
    proxy_servers = [r.ip for r in whitelists if r.list == "ProxyServer"]
    big_provider_nets = [r.ip for r in whitelists if r.list == "BigProvider"]

    def enabled(name: str) -> bool:
        return name not in scfg.disabled

    per: dict[str, DataFrame] = {}
    if enabled("smtp_talkers"):
        per["smtp_talkers"] = D.smtp_talkers(
            summary, my_nets, scfg, histograms, batch_time
        )
    p2p_alerts, p2p_ips = D.p2p_talkers(
        summary, my_nets, scfg, ftp_pairs, ftp_ips, batch_time
    )
    p2p_ips = materialize_cut(p2p_ips, always=True)
    per["p2p"] = p2p_alerts
    media_alerts, media_ips = D.media_streaming_clients(
        summary, my_nets, scfg, p2p_ips, batch_time
    )
    media_ips = materialize_cut(media_ips, always=True)
    per["media_client"] = media_alerts
    if enabled("dns_tunnel"):
        per["dns_tunnel"] = D.dns_tunnel(summary, my_nets, scfg, batch_time)
    if enabled("icmp_tunnel"):
        per["icmp_tunnel"] = D.icmp_tunnel(icmp, scfg, batch_time)
    if enabled("udp_amplifier"):
        per["udp_amplifier"] = D.udp_amplifier(summary, my_nets, scfg, batch_time)
    if enabled("abused_smtp"):
        per["abused_smtp"] = D.abused_smtp(summary, my_nets, scfg, batch_time)
    if enabled("alien_many_hosts"):
        per["alien_many_hosts"] = D.alien_accessing_many_hosts(
            summary, my_nets, scfg, batch_time
        )
    if enabled("cc_botnet"):
        cc_nets = reputation.filter(
            (F.col("list") == "CCBotNet") & (F.col("list_type") == "blacklist")
        ).select(F.col("ip").alias("prefix"))
        per["cc_botnet"] = D.cc_botnet(summary, cc_nets, scfg, batch_time)
    if enabled("ddos"):
        per["ddos"] = D.ddos_attack(summary, my_nets, scfg, p2p_ips, batch_time)
    if enabled("top_talkers"):
        per["top_talkers"] = D.top_talkers(summary, my_nets, scfg, batch_time)

    # stateful suite
    at_alerts, at_updates, new_proxies = S.atypical_tcp_port(
        summary, my_nets, scfg, hcfg, histograms, ftp_pairs, p2p_ips,
        proxy_servers, batch_time,
    )
    per["atypical_tcp_port"] = at_alerts
    aa_alerts, aa_updates = S.atypical_alien_tcp_port(
        summary, my_nets, scfg, hcfg, histograms, ftp_pairs, p2p_ips,
        media_ips, batch_time,
    )
    per["atypical_alien_tcp_port"] = aa_alerts
    ap_alerts, ap_updates = S.atypical_pairs(
        summary, scfg, hcfg, histograms, p2p_ips, batch_time
    )
    per["atypical_pairs"] = ap_alerts
    ad_alerts, ad_updates = S.atypical_data(
        summary, my_nets, scfg, hcfg, histograms, p2p_ips, media_ips,
        big_provider_nets, batch_time,
    )
    per["atypical_data"] = ad_alerts
    profile_updates, new_big_providers = S.alien_network_profile(
        summary, my_nets, scfg, hcfg, histograms, ftp_pairs, p2p_ips
    )
    hp_alerts, hp_updates = S.horizontal_portscan(
        summary, my_nets, scfg, hcfg, histograms, p2p_ips, batch_time
    )
    per["horizontal_portscan"] = hp_alerts
    vp_alerts, vp_updates = S.vertical_portscan(
        summary, scfg, hcfg, histograms, p2p_ips, batch_time
    )
    per["vertical_portscan"] = vp_alerts

    inventory = D.os_inventory(
        summary,
        reputation.filter(F.col("list") == "OSRepo").select(
            "ip",
            F.when(F.col("list_type") == "windows", "Windows")
            .when(F.col("list_type") == "linux", "Linux")
            .when(F.col("list_type") == "android", "Android")
            .when(F.col("list_type") == "apple", "Apple")
            .when(F.col("list_type") == "freebsd", "FreeBSD")
            .alias("os"),
        ),
    )

    alerts = None
    for df in per.values():
        alerts = df if alerts is None else alerts.unionByName(df)
    state_updates = (
        at_updates.unionByName(aa_updates)
        .unionByName(ap_updates)
        .unionByName(ad_updates)
        .unionByName(profile_updates)
        .unionByName(hp_updates)
        .unionByName(vp_updates)
    )
    new_reputation = new_proxies.select(
        F.col("myIP").alias("ip"),
        F.lit("ProxyServer").alias("list"),
        F.lit("whitelist").alias("list_type"),
    ).unionByName(
        new_big_providers.select(
            F.col("prefix").alias("ip"),
            F.lit("BigProvider").alias("list"),
            F.lit("whitelist").alias("list_type"),
        )
    )
    return BatchResult(alerts, state_updates, inventory, new_reputation, per, my_nets)

def run_and_persist(
    spark: SparkSession,
    sflows: DataFrame,
    mynets: DataFrame,
    reputation: DataFrame,
    state_path: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT,
    batch_time: int = 0,
    flows: DataFrame | None = None,
) -> BatchResult:
    """Full lifecycle: load state → detect → append sinks → merge state.
    The engine's equivalent of one 6-hour reference cycle.  Passing the
    nDPI `flows` table adds the ML modules + HIST01 clustering sinks.

    Everything the cycle materializes is released when it returns
    (``sources.catalog.cut_scope``), so one session can run cycle after
    cycle without growing; a caller that still reads the returned frames
    afterwards opens its own scope around the call and those reads."""
    histograms = store.load(spark, state_path).persist()
    with cut_scope():
        if flows is not None:
            result = run_full_batch(
                spark, sflows, mynets, reputation, histograms, flows, cfg, batch_time
            )
        else:
            result = run_sflow_batch(
                spark, sflows, mynets, reputation, histograms, cfg, batch_time
            )
        result.alerts.write.mode("append").parquet(f"{out_dir}/events.parquet")
        # S11: persist the HIST01 server-profile clustering when present
        for name, sink in (("hist_clusters", "clusters"), ("hist_cluster_members", "cluster_members")):
            if name in result.per_detector:
                result.per_detector[name].write.mode("overwrite").parquet(
                    f"{out_dir}/{sink}.parquet"
                )
        result.inventory.write.mode("overwrite").parquet(f"{out_dir}/inventory.parquet")
        result.new_reputation.write.mode("append").parquet(
            f"{out_dir}/reputation_learned.parquet"
        )
        signatures_df(spark).write.mode("overwrite").parquet(
            f"{out_dir}/signatures.parquet"
        )
        store.upsert(spark, result.state_updates, state_path, saved=histograms)
    histograms.unpersist()
    return result

def run_full_batch(
    spark: SparkSession,
    sflows: DataFrame,
    mynets: DataFrame,
    reputation: DataFrame,
    histograms: DataFrame,
    flows: DataFrame | None = None,
    cfg: EngineConfig = DEFAULT,
    batch_time: int = 0,
    rf_numeric_cols: list[str] | None = None,
    rf_char_cols: list[str] | None = None,
) -> BatchResult:
    """Complete analytics pass — the engine's Hogzilla.main
    (src/Hogzilla.scala:39-92): Snort RF → DNS k-means → HTTP k-means →
    sFlow detectors → HIST01 server-profile clustering.

    `flows` is the nDPI-enriched table (None skips the ML modules, e.g.
    sFlow-only deployments)."""
    from hogzilla_spark.detectors.base import SIGNATURES, mk_alert
    from hogzilla_spark.ml.kmeans import dns_kmeans, http_kmeans, histogram_clustering
    from hogzilla_spark.ml.rf import rf_train_score

    result = run_sflow_batch(
        spark, sflows, mynets, reputation, histograms, cfg, batch_time
    )

    if flows is not None and not flows.isEmpty():
        def kmeans_alert(members: DataFrame, sig_key: str) -> DataFrame:
            return mk_alert(
                members,
                SIGNATURES[sig_key],
                F.col("lower_ip"),
                F.col("upper_ip"),
                F.lit(SIGNATURES[sig_key].name),
                {
                    "hostname": F.col("host_server_name"),
                    "clusterLabel": F.concat(
                        F.lit("("), F.col("cluster"), F.lit(","),
                        F.col("detected_protocol"), F.lit(")"),
                    ),
                },
                batch_time,
            )

        dns_members, _ = dns_kmeans(flows, cfg.ml)
        if not dns_members.isEmpty():
            result.per_detector["dns_kmeans"] = kmeans_alert(dns_members, "dns_kmeans")
        http_members, _ = http_kmeans(flows, cfg.ml)
        if not http_members.isEmpty():
            result.per_detector["http_kmeans"] = kmeans_alert(http_members, "http_kmeans")
        if rf_numeric_cols:
            flagged = rf_train_score(
                flows, rf_numeric_cols, rf_char_cols or [], cfg.ml
            )
            result.per_detector["snort_rf"] = mk_alert(
                flagged,
                SIGNATURES["dns_kmeans"],  # id 826000001 (reference collision kept)
                F.col("lower_ip"),
                F.col("upper_ip"),
                F.lit("HZ: Suspicious flow detected by similarity with Snort alerts"),
                {"src": F.col("src_name"), "dst": F.col("dst_name")},
                batch_time,
            )
        for name in ("dns_kmeans", "http_kmeans", "snort_rf"):
            if name in result.per_detector:
                result.alerts = result.alerts.unionByName(result.per_detector[name])

    # M4/M6: server-profile clustering over the saved HIST01 state
    clusters, members = histogram_clustering(histograms, result.my_nets, cfg.ml)
    result.per_detector["hist_clusters"] = clusters
    result.per_detector["hist_cluster_members"] = members
    return result

def main() -> None:
    """CLI: run one full batch over the built-in fixtures (or a parquet
    dir via --sflows) and print per-detector alert counts.

    python -m hogzilla_spark.plans.batch [--out DIR] [--sflows PARQUET]
    """
    import argparse

    from hogzilla_spark import datagen, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/hogzilla_out")
    ap.add_argument("--sflows", default=None, help="parquet path; default: fixtures")
    ap.add_argument("--flows", default=None, help="nDPI flows parquet; 'fixtures' for built-in")
    ap.add_argument("--batch-time", type=int, default=0)
    ap.add_argument(
        "--show-frames",
        action="store_true",
        help="also print the inventory/reputation frames (collects them "
        "to the driver — demo sizes only)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="hogzilla_batch")
    spark.sparkContext.setLogLevel("ERROR")
    sflows = (
        spark.read.parquet(args.sflows) if args.sflows else datagen.sflows_df(spark)
    )
    flows = None
    if args.flows == "fixtures":
        flows = datagen.flows_df(spark)
    elif args.flows:
        flows = spark.read.parquet(args.flows)
    # the scope outlives run_and_persist's own: the counts below still
    # read the cycle's frames
    with cut_scope():
        result = run_and_persist(
            spark,
            sflows,
            datagen.mynets_df(spark),
            datagen.reputation_df(spark),
            state_path=f"{args.out}/state/histograms.parquet",
            out_dir=args.out,
            batch_time=args.batch_time,
            flows=flows,
        )
        for name, df in sorted(result.per_detector.items()):
            n = df.count()
            print(f"{name:28s} {n} alerts")
        print(f"state entries: {store.load(spark, f'{args.out}/state/histograms.parquet').count()}")
        if args.show_frames:
            print(f"inventory: {[tuple(r) for r in result.inventory.collect()]}")
            print(f"learned reputation: {[tuple(r) for r in result.new_reputation.collect()]}")
        else:
            print(f"inventory rows: {result.inventory.count()}")
            print(f"learned reputation rows: {result.new_reputation.count()}")
    spark.stop()

if __name__ == "__main__":
    main()
