"""End-to-end full-batch test: the Hogzilla.main-equivalent DAG with
sFlow + ML modules + histogram clustering in one pass."""

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from hogzilla_spark import datagen
from hogzilla_spark.functions.scalar import TCP_PSHACK
from hogzilla_spark.plans.batch import run_full_batch

def test_full_batch_all_modules(spark):
    hists = datagen.histograms_df(spark)
    result = run_full_batch(
        spark,
        datagen.sflows_df(spark),
        datagen.mynets_df(spark),
        datagen.reputation_df(spark),
        hists,
        flows=datagen.flows_df(spark),
        rf_numeric_cols=["bytes", "packets", "flow_duration"],
        rf_char_cols=["detected_protocol"],
    )
    sig_counts = {
        r.signature_id: r.n
        for r in result.alerts.groupBy("signature_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # stateless + stateful + ML alert families all present
    assert sig_counts[826001012] == 1  # dns tunnel
    assert sig_counts[826001003] == 1  # atypical tcp port (state-scored)
    assert sig_counts[826000001] >= 5  # dns k-means taint + RF (id collision kept)
    # state updates cover every touched family
    fams = {
        r.hist_name.split("-")[0]
        for r in result.state_updates.select("hist_name").collect()
    }
    assert {"HIST01", "HIST02", "HIST03", "HIST04", "HIST05", "HIST06", "HIST07", "HIST08"} <= fams
    assert [tuple(r) for r in result.inventory.collect()] == [("10.1.0.130", "Linux")]

def test_disable_flags_skip_detectors(spark):
    from dataclasses import replace

    from hogzilla_spark.config import DEFAULT, EngineConfig
    from hogzilla_spark.plans.batch import run_sflow_batch

    cfg = EngineConfig(
        sflow=replace(DEFAULT.sflow, disabled=frozenset({"dns_tunnel", "ddos"})),
        auth=DEFAULT.auth, hist=DEFAULT.hist, ml=DEFAULT.ml,
    )
    r = run_sflow_batch(
        spark,
        datagen.sflows_df(spark),
        datagen.mynets_df(spark),
        datagen.reputation_df(spark),
        datagen.histograms_df(spark),
        cfg=cfg,
    )
    assert "dns_tunnel" not in r.per_detector and "ddos" not in r.per_detector
    sigs = {row.signature_id for row in r.alerts.select("signature_id").distinct().collect()}
    assert 826001012 not in sigs and 826001016 not in sigs
    assert 826001013 in sigs  # icmp tunnel still runs


def _lazy_sflow_batch(spark, sflows, mynets, reputation, histograms, cfg, batch_time):
    """Reference twin of run_sflow_batch with NOTHING materialized: the
    same detector functions fed the lazy summary and lazy dependency
    frames, assembled in the same order.  Returns (alerts,
    state_updates, inventory, new_reputation)."""
    from hogzilla_spark.detectors import sflow as D
    from hogzilla_spark.detectors import stateful as S
    from hogzilla_spark.operators.rollup import icmp_summary, sflow_summary

    my_nets = [r.prefix for r in mynets.select("prefix").collect()]
    scfg, hcfg = cfg.sflow, cfg.hist
    summary = sflow_summary(sflows, my_nets)
    icmp = icmp_summary(sflows, my_nets)

    def rep_list(lst, typ):
        return reputation.filter(
            (F.col("list") == lst) & (F.col("list_type") == typ)
        ).select(F.col("ip").alias("prefix"))

    ftp_pairs = D.ftp_talkers(summary)
    ftp_ips = D.ftp_servers(histograms)
    proxy_servers = [r.prefix for r in rep_list("ProxyServer", "whitelist").collect()]
    big_provider_nets = [r.prefix for r in rep_list("BigProvider", "whitelist").collect()]

    alerts = [D.smtp_talkers(summary, my_nets, scfg, histograms, batch_time)]
    p2p_alerts, p2p_ips = D.p2p_talkers(summary, my_nets, scfg, ftp_pairs, ftp_ips, batch_time)
    media_alerts, media_ips = D.media_streaming_clients(summary, my_nets, scfg, p2p_ips, batch_time)
    alerts += [
        p2p_alerts,
        media_alerts,
        D.dns_tunnel(summary, my_nets, scfg, batch_time),
        D.icmp_tunnel(icmp, scfg, batch_time),
        D.udp_amplifier(summary, my_nets, scfg, batch_time),
        D.abused_smtp(summary, my_nets, scfg, batch_time),
        D.alien_accessing_many_hosts(summary, my_nets, scfg, batch_time),
        D.cc_botnet(summary, rep_list("CCBotNet", "blacklist"), scfg, batch_time),
        D.ddos_attack(summary, my_nets, scfg, p2p_ips, batch_time),
        D.top_talkers(summary, my_nets, scfg, batch_time),
    ]
    at_alerts, at_updates, new_proxies = S.atypical_tcp_port(
        summary, my_nets, scfg, hcfg, histograms, ftp_pairs, p2p_ips,
        proxy_servers, batch_time,
    )
    aa_alerts, aa_updates = S.atypical_alien_tcp_port(
        summary, my_nets, scfg, hcfg, histograms, ftp_pairs, p2p_ips,
        media_ips, batch_time,
    )
    ap_alerts, ap_updates = S.atypical_pairs(summary, scfg, hcfg, histograms, p2p_ips, batch_time)
    ad_alerts, ad_updates = S.atypical_data(
        summary, my_nets, scfg, hcfg, histograms, p2p_ips, media_ips,
        big_provider_nets, batch_time,
    )
    profile_updates, new_big_providers = S.alien_network_profile(
        summary, my_nets, scfg, hcfg, histograms, ftp_pairs, p2p_ips
    )
    hp_alerts, hp_updates = S.horizontal_portscan(
        summary, my_nets, scfg, hcfg, histograms, p2p_ips, batch_time
    )
    vp_alerts, vp_updates = S.vertical_portscan(summary, scfg, hcfg, histograms, p2p_ips, batch_time)
    alerts += [at_alerts, aa_alerts, ap_alerts, ad_alerts, hp_alerts, vp_alerts]
    updates = [at_updates, aa_updates, ap_updates, ad_updates, profile_updates, hp_updates, vp_updates]

    os_repos = reputation.filter(F.col("list") == "OSRepo").select(
        "ip",
        F.when(F.col("list_type") == "windows", "Windows")
        .when(F.col("list_type") == "linux", "Linux")
        .when(F.col("list_type") == "android", "Android")
        .when(F.col("list_type") == "apple", "Apple")
        .when(F.col("list_type") == "freebsd", "FreeBSD")
        .alias("os"),
    )
    new_reputation = new_proxies.select(
        F.col("myIP").alias("ip"), F.lit("ProxyServer").alias("list"),
        F.lit("whitelist").alias("list_type"),
    ).unionByName(
        new_big_providers.select(
            F.col("prefix").alias("ip"), F.lit("BigProvider").alias("list"),
            F.lit("whitelist").alias("list_type"),
        )
    )
    return (
        reduce(DataFrame.unionByName, alerts),
        reduce(DataFrame.unionByName, updates),
        D.os_inventory(summary, os_repos),
        new_reputation,
    )


def _rows(df):
    """Order-free, comparable rendering of a frame (map columns become
    sorted item tuples)."""
    def canon(v):
        return tuple(sorted(v.items())) if isinstance(v, dict) else v

    return sorted((tuple(canon(v) for v in r) for r in df.collect()), key=repr)


def test_materialized_dependencies_match_lazy_twin(spark):
    """Materializing the summary and the FTP/P2P/media dependency sets
    once per cycle must not change a single output row: every frame of
    run_sflow_batch equals what the same detectors return over the
    lazy summary and lazy dependency frames."""
    from hogzilla_spark.config import DEFAULT
    from hogzilla_spark.plans.batch import run_sflow_batch

    T = 1_700_000_000
    # a media client whose confirmed (PSH-ACK) mid-port session would
    # also feed atypical_alien_tcp_port's HIST02 update if the media
    # set did not exclude it — the fixture's media client has no
    # confirmed flow, so without this host a mis-wired media set
    # reaches no output
    media = [
        datagen._pkt("10.1.0.102", "5557", "198.51.200.3", "5002", "6", 500,
                     flags=TCP_PSHACK, ts=T),
        datagen._pkt("198.51.200.3", "5002", "10.1.0.102", "5557", "6", 2000,
                     flags=TCP_PSHACK, ts=T + 1000),
    ]
    args = (
        datagen.sflows_df(spark).unionByName(
            spark.createDataFrame(media, datagen.sflows_df(spark).schema)
        ),
        datagen.mynets_df(spark),
        datagen.reputation_df(spark).unionByName(
            spark.createDataFrame(
                # whitelist the near-miss twins of the planted atypical
                # TCP port / data hosts, so both lists reach an output
                [("10.1.0.151", "ProxyServer", "whitelist", "proxy"),
                 ("91.91.91.2", "BigProvider", "whitelist", "cdn")],
                "ip string, list string, list_type string, description string",
            )
        ),
        datagen.histograms_df(spark),
    )
    got = run_sflow_batch(spark, *args, batch_time=T)
    want = _lazy_sflow_batch(spark, *args, DEFAULT, T)
    for name, lazy in zip(("alerts", "state_updates", "inventory", "new_reputation"), want):
        got_rows = _rows(getattr(got, name))
        assert got_rows == _rows(lazy), name
        assert got_rows, name  # non-vacuous
    # the planted host is a media client, so it is excluded from HIST02
    assert "10.1.0.102" in {r.myIP for r in got.per_detector["media_client"]
                            .select(F.element_at("data", "myIP").alias("myIP")).collect()}
    assert not got.state_updates.filter(F.col("hist_name") == "HIST02-10.1.0.102").count()


def test_run_and_persist_releases_cuts_between_cycles(spark, tmp_path, monkeypatch, held):
    """Two cycles in one session leave no persisted RDD and no cut
    checkpoint file behind: the first cuts through localCheckpoint, the
    second (gate forced to 0) through reliable checkpoints.  The packets
    are read from parquet: an in-memory frame has no size estimate, and
    the cut gate sends unknown sizes to the reliable path."""
    from hogzilla_spark.plans.batch import run_and_persist
    from hogzilla_spark.sources import catalog

    released = []
    release = catalog._release
    monkeypatch.setattr(catalog, "_release", lambda cut: (released.append(cut), release(cut)))
    datagen.sflows_df(spark).write.parquet(str(tmp_path / "sflows"))
    args = (
        spark.read.parquet(str(tmp_path / "sflows")), datagen.mynets_df(spark),
        datagen.reputation_df(spark), str(tmp_path / "state"), str(tmp_path / "out"),
    )
    rdds_before, files_before = held()
    for gate in (None, "0"):
        if gate is not None:
            monkeypatch.setenv("HZ_CUT_MIN_INPUT_BYTES", gate)
        run_and_persist(spark, *args)
        rdds_after, files_after = held()
        assert rdds_after <= rdds_before, (gate, rdds_after - rdds_before)
        assert files_after <= files_before, (gate, files_after - files_before)
    assert len(released) >= 10  # five shared inputs per cycle, at least
