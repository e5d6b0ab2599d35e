"""Seeded input generator for the IDS benchmark.

Runs as its own process (numpy + pyarrow, no Spark) so the engine only
ever sees the parquet files written here.  The planted true-positive and
near-miss scenarios are owned by this file: a change to the engine's
fixtures cannot change the benchmark's inputs.

    python3 perfbench/gen.py cycle --seed N --out DIR
    python3 perfbench/gen.py auth  --seed N --out DIR
    python3 perfbench/gen.py feed  --plan DIR/plan.json --seconds S

``cycle`` and ``auth`` write the inputs and a ``plan.json`` holding what
the correctness gate expects.  ``feed`` is the auth stream's load
generator: it writes creation-stamped record files into the stream's
input directory on a fixed schedule (open loop).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- traffic dimensions (README.md gives the basis of each) -------------

T0 = 1_700_000_000  # cycle start, epoch seconds
CYCLE_S = 6 * 3600  # the reference's batch period

# ids_cycle
PACKETS = 100_000  # background sFlow samples per cycle
INTERNAL_HOSTS = 4_000
ALIENS = 40_000
TALKER_ZIPF = 1.1  # talker skew exponent (internal and alien side)
SAMPLING_RATE = 1024
# alien service port mix (port, protocol, share); client ports ephemeral
PORT_MIX = [
    ("443", "6", 0.50), ("80", "6", 0.20), ("53", "17", 0.12),
    ("22", "6", 0.06), ("993", "6", 0.06), ("8080", "6", 0.06),
]
STORE_BACKGROUND = 2_000  # pre-seeded HIST01/HIST07 entries for talkers

# auth_stream
USERS = 4_000
AUTH_ZIPF = 1.2
STORE_UNTOUCHED = 8_000  # HIST01-HIST08 entries no auth batch touches
RECORDS_PER_FILE = 10_000
WARMUP_FILES = 1
INTERVAL_S = 18.0  # open-loop file interval, above the seed's ~13 s steady batch
OPEN_FILES_MAX = 16
NEW_USERS_PER_FILE = 5

MY_NET = "10.1."
# fixed third octet ranges: planted internal hosts live below 100,
# background talkers at 100 and above, so no background packet touches
# a planted entity
BACKGROUND_THIRD_OCTET = 100

SFLOW_SCHEMA = pa.schema([
    ("srcIP", pa.string()), ("dstIP", pa.string()),
    ("srcPort", pa.string()), ("dstPort", pa.string()),
    ("IPprotocol", pa.string()), ("packetSize", pa.int64()),
    ("samplingRate", pa.int64()), ("tcpFlags", pa.string()),
    ("timestamp", pa.int64()),
])
HIST_SCHEMA = pa.schema([
    ("hist_name", pa.string()), ("size", pa.int64()),
    ("values", pa.map_(pa.string(), pa.float64())),
    ("labels", pa.map_(pa.string(), pa.string())),
])
AUTH_SCHEMA = pa.schema([
    ("generatedTime", pa.float64()), ("agent", pa.string()),
    ("service", pa.string()), ("clientReverse", pa.string()),
    ("clientIP", pa.string()), ("userName", pa.string()),
    ("authMethod", pa.string()), ("loginFailed", pa.int32()),
    ("userAgent", pa.string()), ("country", pa.string()),
    ("region", pa.string()), ("city", pa.string()),
    ("coords", pa.string()), ("asn", pa.string()),
])
def _zipf_index(rng: np.random.Generator, n: int, k: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, k + 1) ** s
    return rng.choice(k, size=n, p=w / w.sum())


def _internal(i: int) -> str:
    return f"{MY_NET}{BACKGROUND_THIRD_OCTET + i // 250}.{i % 250 + 1}"


def _alien(j: int) -> str:
    # 160.0.0.0/7: disjoint from every planted alien octet (20-99)
    return f"{160 + j // 62_500}.{j // 250 % 250 + 1}.{j % 250 + 1}.9"


def _names(fn, k: int) -> np.ndarray:
    return np.array([fn(i) for i in range(k)], dtype=object)


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts) if table.num_rows else 1
    for p in range(parts):
        chunk = table.slice(p * step, step)
        pq.write_table(chunk, os.path.join(path, f"part-{p:05d}.parquet"))


def _hist_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    return pa.table(
        {
            "hist_name": pa.array(cols[0], pa.string()),
            "size": pa.array(cols[1], pa.int64()),
            "values": pa.array([list(v.items()) for v in cols[2]], HIST_SCHEMA.field("values").type),
            "labels": pa.array([list(v.items()) for v in cols[3]], HIST_SCHEMA.field("labels").type),
        },
        schema=HIST_SCHEMA,
    )


# --- ids_cycle -----------------------------------------------------------


class _Planted:
    """Planted sFlow scenarios: one true positive and one near miss per
    detector.  Internal hosts sit on a seed-chosen /24 below the
    background range; alien first octets go through a seeded map so
    every seed places the scenarios on different addresses."""

    def __init__(self, rng: np.random.Generator):
        self.third = int(rng.integers(1, 90))
        pool = rng.permutation(np.arange(20, 100))
        self._alien_octets: dict[int, int] = {}
        self._pool = iter(int(x) for x in pool)
        self.rows: list[tuple] = []
        self.expect_fire: list[list] = []  # [signature_id, ip]
        self.expect_quiet: list[list] = []
        self.expect_fire_stateful: list[list] = []
        self.expect_quiet_stateful: list[list] = []
        self.hist: list[tuple] = []
        self.learned: list[list] = []  # [ip or prefix, reputation list]
        self.not_learned: list[list] = []
        self.T = T0 + 3600

    def host(self, n: int, third: int = 0) -> str:
        return f"{MY_NET}{self.third + third}.{n}"

    def alien(self, a: int, rest: str) -> str:
        if a not in self._alien_octets:
            self._alien_octets[a] = next(self._pool)
        return f"{self._alien_octets[a]}.{rest}"

    def pkt(self, src, sport, dst, dport, proto, size, rate=1024, flags="0x00", dt=0):
        self.rows.append((src, dst, str(sport), str(dport), proto, size, rate, flags, self.T + dt))

    def build(self) -> None:
        h, al, pkt = self.host, self.alien, self.pkt
        fire, quiet = self.expect_fire, self.expect_quiet

        # dns tunnel 826001012: both directions over 25 MB x rate
        pkt(h(40), 44000, al(8, "8.4.4"), 53, "17", 30000)
        pkt(al(8, "8.4.4"), 53, h(40), 44000, "17", 30000, dt=5)
        pkt(h(41), 44001, al(8, "8.4.4"), 53, "17", 30000)
        pkt(al(8, "8.4.4"), 53, h(41), 44001, "17", 100, dt=5)
        fire.append([826001012, h(40)]); quiet.append([826001012, h(41)])

        # icmp tunnel 826001013: >200 B/packet and >100 MB estimated
        for i in range(50):
            pkt(h(50), 8, al(9, "9.9.9"), 0, "1", 300, rate=8192, dt=i)
            pkt(h(51), 8, al(9, "9.9.9"), 0, "1", 300, rate=1, dt=i)
        fire.append([826001013, h(50)]); quiet.append([826001013, h(51)])

        # udp amplifier 826001009: service port 53 answering >250 B/packet
        for i in range(3):
            pkt(h(60), 53, al(198, "51.100.9"), 40000, "17", 300, dt=i)
            pkt(h(61), 53, al(198, "51.100.9"), 40001, "17", 200, dt=i)
        fire.append([826001009, h(60)]); quiet.append([826001009, h(61)])

        # abused smtp 826001010: >50 connections to an internal 465
        for j in range(51):
            pkt(al(203, "0.114.7"), 50000 + j, h(70), 465, "6", 2000, dt=j)
        for j in range(20):
            pkt(al(203, "0.114.7"), 50000 + j, h(71), 465, "6", 2000, dt=j)
        fire.append([826001010, h(70)]); quiet.append([826001010, h(71)])

        # smtp talker 826001002: >20 packets, >20 MB x rate to alien :25
        for conn in range(2):
            for p in range(11):
                pkt(h(80), 40100 + conn, al(198, "51.100.25"), 25, "6", 1000, dt=conn * 100 + p)
                pkt(h(81), 40200 + conn, al(198, "51.100.25"), 25, "6", 10, rate=1, dt=conn * 100 + p)
        fire.append([826001002, h(80)]); quiet.append([826001002, h(81)])

        # p2p 826001008: high ports both sides, >5 pairs, >4 local ports
        for i in range(6):
            for p in range(2):
                pkt(h(90), 20000 + i, al(198, f"51.{100 + i}.1"), 30000 + i, "6", 500, dt=i * 10 + p)
        for i in range(4):
            for p in range(2):
                pkt(h(91), 21000 + i, al(198, f"51.{100 + i}.2"), 31000 + i, "6", 500, dt=i * 10 + p)
        fire.append([826001008, h(90)]); quiet.append([826001008, h(91)])

        # media streaming client 826001011: 300 s < session < 7200 s
        pkt(h(100), 5555, al(198, "51.200.1"), 5000, "6", 500)
        pkt(al(198, "51.200.1"), 5000, h(100), 5555, "6", 2000, dt=1000)
        pkt(h(101), 5556, al(198, "51.200.1"), 5001, "6", 500)
        pkt(al(198, "51.200.1"), 5001, h(101), 5556, "6", 2000, dt=10)
        fire.append([826001011, h(100)]); quiet.append([826001011, h(101)])

        # alien accessing many hosts 826001007: >20 internal pairs
        for i in range(21):
            pkt(al(66, "66.66.66"), 40000, h(i, third=1), 22, "6", 100, flags="0x02", dt=i)
        for i in range(10):
            pkt(al(66, "66.66.67"), 40000, h(i, third=2), 22, "6", 100, flags="0x02", dt=i)
        fire.append([826001007, al(66, "66.66.66")]); quiet.append([826001007, al(66, "66.66.67")])

        # ddos 826001016: >20 attackers x >50 regular flows (gaps < 60 s)
        for a in range(21):
            for f in range(51):
                pkt(al(55, f"55.{a}.1"), 20000 + f, h(110), 7777, "17", 3000, dt=f * 10)
                pkt(al(56, f"56.{a}.1"), 20000 + f, h(111), 7777, "17", 3000, dt=f * 120)
        fire.append([826001016, h(110)]); quiet.append([826001016, h(111)])

        # c&c botnet 826001017: blacklisted alien prefix, >=20 packets
        for p in range(20):
            pkt(h(120), 30000, al(203, "0.113.7"), 6667, "6", 100, dt=p)
        for p in range(5):
            pkt(h(121), 30001, al(203, "0.113.7"), 6667, "6", 100, dt=p)
        fire.append([826001017, h(120)]); quiet.append([826001017, h(121)])

        # os inventory: contact with a linux repository
        pkt(h(130), 44321, al(91, "189.88.1"), 443, "6", 500)
        self.inventory = [h(130), "Linux"]

        # ftp pair (feeds the p2p suppression dimension)
        for p in range(2):
            pkt(h(140), 21, al(44, "44.44.44"), 40000, "6", 100, dt=p)

        # --- stateful scenarios, paired with the pre-seeded store -------
        sfire, squiet = self.expect_fire_stateful, self.expect_quiet_stateful
        # atypical tcp port 826001003: serves an unseen port; twin learns
        for j in range(4):
            for p in range(2):
                pkt(h(150), 12345, al(77, "77.77.1"), 50001 + j, "6", 400, flags="0x18", dt=j * 5 + p)
                pkt(h(151), 12346, al(77, "77.77.2"), 50001 + j, "6", 400, flags="0x18", dt=j * 5 + p)
        self.hist.append((f"HIST01-{h(150)}", 200, {"443": 1.0}, {}))
        sfire.append([826001003, h(150)]); squiet.append([826001003, h(151)])

        # atypical alien tcp port 826001004: typical-now port only for .160
        for n, port in ((160, 4567), (161, 4568)):
            a = al(88, f"88.88.{n - 159}")
            pkt(h(n), 40005, a, port, "6", 300, flags="0x02")
            pkt(h(n), 40005, a, port, "6", 300, flags="0x18", dt=1)
        self.hist += [
            (f"HIST02-{h(160)}", 2000, {"443": 1.0}, {}),
            (f"HIST02.1-{h(160)}", 10, {"4567": 0.5}, {}),
            (f"HIST02-{h(161)}", 2000, {"443": 1.0}, {}),
            (f"HIST02.1-{h(161)}", 10, {"9999": 1.0}, {}),
        ]
        sfire.append([826001004, h(160)]); squiet.append([826001004, h(161)])

        # atypical pairs 826001005: 301 aliens vs a concentrated history
        for i in range(301):
            for p in range(2):
                pkt(h(170), 45000 + i, al(89, f"89.{i // 250}.{i % 250}"), 443, "6", 100, dt=i)
                pkt(h(171), 45000 + i, al(90, f"90.{i // 250}.{i % 250}"), 443, "6", 100, dt=i)
        self.hist.append((f"HIST03-{h(170)}", 20, {"5": 1.0}, {}))
        sfire.append([826001005, h(170)]); squiet.append([826001005, h(171)])

        # atypical data 826001006: one 6 MB sample (6.1 GB estimated)
        pkt(h(180), 45999, al(91, "91.91.1"), 443, "6", 6_000_000)
        pkt(h(181), 45998, al(91, "91.91.2"), 443, "6", 6_000_000)
        self.hist.append((f"HIST04-{h(180)}", 100, {"2": 1.0}, {}))
        sfire.append([826001006, h(180)]); squiet.append([826001006, h(181)])

        # horizontal portscan 826001014: 101 aliens on one port
        for i in range(101):
            pkt(h(190), 40000, al(92, f"92.{i // 250}.{i % 250}"), 2323, "6", 60, flags="0x02", dt=i)
            pkt(h(191), 40000, al(93, f"93.{i // 250}.{i % 250}"), 2323, "6", 60, flags="0x02", dt=i)
        self.hist.append((f"HIST07-{h(190)}", 150, {"2323": 50.0}, {}))
        sfire.append([826001014, h(190)]); squiet.append([826001014, h(191)])

        # vertical portscan 826001015: 4 low ports; twin's history has them
        for port in (100, 101, 102, 103):
            pkt(h(200), 40000, al(99, "99.99.9"), port, "6", 60, flags="0x02")
            pkt(h(201), 40000, al(99, "99.99.8"), port, "6", 60, flags="0x02")
        self.hist += [
            (f"HIST08-{h(200)}", 20, {"2": 0.9}, {}),
            (f"HIST08-{h(201)}", 20, {"6": 0.5}, {}),
        ]
        sfire.append([826001015, h(200)]); squiet.append([826001015, h(201)])

        # alien network profile + big-provider learning: five hosts pull
        # 2 MB samples from one /24, which is learned; its twin sends 500 B
        for i in range(5):
            pkt(h(i, third=3), 40001, al(123, "123.123.9"), 8443, "6", 500, dt=i)
            pkt(h(i, third=4), 40002, al(124, "124.124.1"), 8443, "6", 2_000_000, dt=i)
        self.learned.append([al(124, "124.124."), "BigProvider"])
        self.not_learned.append([al(123, "123.123."), "BigProvider"])

    def reputation(self) -> pa.Table:
        rows = [
            (self.alien(203, "0.113."), "CCBotNet", "blacklist", "planted c&c prefix"),
            (self.alien(91, "189.88.1"), "OSRepo", "linux", "planted linux repo"),
            (self.alien(91, "189.88.2"), "OSRepo", "windows", "planted windows repo"),
        ]
        names = ["ip", "list", "list_type", "description"]
        return pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})


def gen_cycle(seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    planted = _Planted(rng)
    planted.build()

    n = PACKETS
    host = _zipf_index(rng, n, INTERNAL_HOSTS, TALKER_ZIPF)
    alien = _zipf_index(rng, n, ALIENS, TALKER_ZIPF)
    shares = np.array([m[2] for m in PORT_MIX])
    svc = rng.choice(len(PORT_MIX), size=n, p=shares / shares.sum())
    svc_port = np.array([m[0] for m in PORT_MIX], dtype=object)[svc]
    proto = np.array([m[1] for m in PORT_MIX], dtype=object)[svc]
    client_port = _names(str, 61000)[rng.integers(32768, 61000, size=n)]
    outbound = rng.random(n) < 0.5
    h_ip, a_ip = _names(_internal, INTERNAL_HOSTS)[host], _names(_alien, ALIENS)[alien]
    flags = np.where(
        proto == "17", "0x00",
        np.array(["0x18", "0x10", "0x02", "0x12"], dtype=object)[
            rng.choice(4, size=n, p=[0.6, 0.3, 0.05, 0.05])
        ],
    ).astype(object)
    bg = {
        "srcIP": np.where(outbound, h_ip, a_ip),
        "dstIP": np.where(outbound, a_ip, h_ip),
        "srcPort": np.where(outbound, client_port, svc_port),
        "dstPort": np.where(outbound, svc_port, client_port),
        "IPprotocol": proto,
        "packetSize": rng.integers(64, 1500, size=n),
        "samplingRate": np.full(n, SAMPLING_RATE),
        "tcpFlags": flags,
        "timestamp": T0 + rng.integers(0, CYCLE_S, size=n),
    }
    bg_table = pa.table({k: pa.array(v, SFLOW_SCHEMA.field(k).type) for k, v in bg.items()})
    pl = list(zip(*planted.rows))
    pl_table = pa.table(
        {f.name: pa.array(pl[i], f.type) for i, f in enumerate(SFLOW_SCHEMA)}
    )
    sflows = pa.concat_tables([bg_table, pl_table])
    # input order is arrival order: planted samples land among the rest
    sflows = sflows.take(rng.permutation(sflows.num_rows))
    _write(sflows, f"{out}/sflows", parts=8)

    _write(pa.table({"prefix": [MY_NET], "description": ["monitored net"]}), f"{out}/mynets")
    _write(planted.reputation(), f"{out}/reputation")

    # small store: planted histories + mature HIST01/HIST07 for top talkers
    hist = list(planted.hist)
    for i in range(STORE_BACKGROUND // 2):
        ip = _internal(i)
        hist.append((f"HIST01-{ip}", 500, {"443": 0.6, "80": 0.4}, {}))
        hist.append((f"HIST07-{ip}", 500, {"443": 20.0, "80": 10.0}, {}))
    _write(_hist_table(hist), f"{out}/store_seed")

    plan = {
        "workload": "ids_cycle",
        "seed": seed,
        "packets": sflows.num_rows,
        "store_entries": len(hist),
        "fire": planted.expect_fire,
        "quiet": planted.expect_quiet,
        "fire_stateful": planted.expect_fire_stateful,
        "quiet_stateful": planted.expect_quiet_stateful,
        "inventory": planted.inventory,
        "learned": planted.learned,
        "not_learned": planted.not_learned,
    }
    with open(f"{out}/plan.json", "w") as fh:
        json.dump(plan, fh)
    return plan


# --- auth_stream ---------------------------------------------------------

CITIES = [  # city, region, country, coords (lat,lon)
    ("Sao Paulo", "SP", "Brazil", "-23.55,-46.63"),
    ("Paris", "IDF", "France", "48.85,2.35"),
    ("Berlin", "BE", "Germany", "52.52,13.40"),
    ("Tokyo", "TK", "Japan", "35.68,139.69"),
    ("Toronto", "ON", "Canada", "43.65,-79.38"),
    ("Sydney", "NSW", "Australia", "-33.87,151.21"),
    ("Madrid", "MD", "Spain", "40.42,-3.70"),
    ("Chicago", "IL", "USA", "41.88,-87.63"),
]
USER_AGENTS = [  # raw string, family the engine's parser yields
    ("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0 Safari/537.36", "Windows/Chrome"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) Version/17.1 Safari/605.1.15", "Mac OS X/Safari"),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0", "Linux/Firefox"),
]
SERVICES = [("vpn1", "ssh"), ("vpn1", "imap"), ("sso", "web")]


def _label(city: str, country: str) -> str:
    return f"{city.replace(' ', '_')}/{country.replace(' ', '_')}"


def _user_profile(u: int) -> tuple[int, int, int]:
    return u % len(CITIES), (u // len(CITIES)) % len(USER_AGENTS), (u // 7) % len(SERVICES)


SEEDED_SIZE = 20  # logins behind each pre-seeded user histogram


def _mature(name: str, city: int, ua: int, svc: int) -> list[tuple]:
    c = CITIES[city]
    n = SEEDED_SIZE
    return [
        (f"HIST20-{name}", n, {c[3]: 1.0}, {c[3]: _label(c[0], c[2])}),
        (f"HIST21-{name}", n, {USER_AGENTS[ua][1]: 1.0}, {}),
        (f"HIST22-{name}", n, {"/".join(SERVICES[svc]): 1.0}, {}),
    ]


def gen_auth(seed: int, out: str) -> dict:
    """Store seed plus the per-file record plan; stamps are set at feed
    time.  Each file carries Zipf background logins that match the
    user's history (no alert), learn-only new users, and its own planted
    users: three true positives (far city C, novel agent U, novel
    service S) and two near misses (a nearby city, a whitelisted
    reverse domain)."""
    hist: list[tuple] = []
    for u in range(USERS):
        hist += _mature(f"u{u}", *_user_profile(u))
    for i in range(STORE_UNTOUCHED):
        fam = ("HIST01", "HIST02", "HIST03", "HIST04", "HIST05", "HIST06", "HIST07", "HIST08")[i % 8]
        hist.append((f"{fam}-{MY_NET}{i // 8 // 250}.{i // 8 % 250}", 100 + i % 900,
                     {"443": 0.7, str(1024 + i % 4000): 0.3}, {}))
    seeded = len(hist)
    _write(_hist_table(hist), f"{out}/store_seed", parts=4)

    n_files = WARMUP_FILES + OPEN_FILES_MAX  # the feed uses what --seconds allows
    files = [{
        "name": f"auth-{f:04d}.parquet",
        "phase": "warmup" if f < WARMUP_FILES else "open",
        "planted": f"p{f}",
        "new": [f"n{f}_{k}" for k in range(NEW_USERS_PER_FILE)],
    } for f in range(n_files)]
    plan = {
        "workload": "auth_stream",
        "seed": seed,
        "store_entries": seeded,
        "files": files,
        "interval_s": INTERVAL_S,
        "warmup_files": WARMUP_FILES,
    }
    # planted users are pre-seeded like any other (home Sao Paulo, Chrome, vpn1/ssh)
    extra = []
    for f in range(n_files):
        for k in range(5):
            extra += _mature(f"p{f}_{k}", 0, 0, 0)
    _write(_hist_table(extra), f"{out}/store_seed_planted")
    plan["store_entries"] += len(extra)
    with open(f"{out}/plan.json", "w") as fh:
        json.dump(plan, fh)
    return plan


def _auth_users(seed: int, index: int) -> np.ndarray:
    """Background user of each record of file ``index``."""
    return _zipf_index(np.random.default_rng([seed, index]), RECORDS_PER_FILE, USERS, AUTH_ZIPF)


def auth_user_counts(seed: int, index: int) -> dict[str, int]:
    """Background logins per user in file ``index``."""
    users, counts = np.unique(_auth_users(seed, index), return_counts=True)
    return {f"u{u}": int(c) for u, c in zip(users.tolist(), counts.tolist())}


def auth_records(seed: int, index: int, spec: dict, stamp: float) -> pa.Table:
    rows = []

    def rec(user, city, ua, agent, service, reverse=""):
        c = CITIES[city] if isinstance(city, int) else city
        rows.append((stamp, agent, service, reverse, "200.1.2.3", user, "password", 0,
                     ua, c[2], c[1], c[0], c[3], "AS1"))

    for u in _auth_users(seed, index).tolist():
        city, ua, svc = _user_profile(u)
        rec(f"u{u}", city, USER_AGENTS[ua][0], *SERVICES[svc])
    chrome = USER_AGENTS[0][0]
    p = spec["planted"]
    rec(f"{p}_0", ("Rio de Janeiro", "RJ", "Brazil", "-22.90,-43.20"), chrome, "vpn1", "ssh")
    rec(f"{p}_1", 0, "curl/7.79.1", "vpn1", "ssh")
    rec(f"{p}_2", 0, chrome, "vpn2", "rdp")
    rec(f"{p}_3", ("Osasco", "SP", "Brazil", "-23.50,-46.60"), chrome, "vpn1", "ssh")
    rec(f"{p}_4", ("New York", "NY", "USA", "40.71,-74.00"), chrome, "vpn1", "ssh",
        reverse="mail.google.com")
    for name in spec["new"]:
        rec(name, 1, chrome, "vpn1", "ssh")
    cols = list(zip(*rows))
    return pa.table({f.name: pa.array(cols[i], f.type) for i, f in enumerate(AUTH_SCHEMA)})


# planted users' expected verdicts, by the suffix auth_records gives them
AUTH_EXPECT = {"_0": "C", "_1": "U", "_2": "S", "_3": "", "_4": ""}


def n_open_files(seconds: float, interval: float) -> int:
    return min(OPEN_FILES_MAX, max(1, int(seconds // interval)))


def feed(plan_path: str, seconds: float) -> None:
    """The open loop.  File k is due at start + k x interval whatever the
    engine is doing; its records are stamped when the file is created,
    and it is written beside the input directory and renamed in, so the
    stream never lists a partial file."""
    with open(plan_path) as fh:
        plan = json.load(fh)
    work = os.path.dirname(plan_path)
    inp, stage = f"{work}/auth_in", f"{work}/auth_stage"
    os.makedirs(stage, exist_ok=True)
    interval = plan["interval_s"]
    log = []
    start = time.time()
    for k in range(n_open_files(seconds, interval)):
        index = plan["warmup_files"] + k
        spec = plan["files"][index]
        due = start + k * interval
        time.sleep(max(0.0, due - time.time()))
        stamp = time.time()
        table = auth_records(plan["seed"], index, spec, stamp)
        pq.write_table(table, f"{stage}/{spec['name']}")
        os.replace(f"{stage}/{spec['name']}", f"{inp}/{spec['name']}")
        log.append({"name": spec["name"], "phase": "open", "rows": table.num_rows,
                    "stamp": stamp, "due": due, "written": time.time()})
    with open(f"{work}/feed_log.json", "w") as fh:
        json.dump(log, fh)


def drop_warmup(plan_path: str) -> list[dict]:
    """Write the warm-up files straight into the input directory."""
    with open(plan_path) as fh:
        plan = json.load(fh)
    work = os.path.dirname(plan_path)
    os.makedirs(f"{work}/auth_in", exist_ok=True)
    log = []
    for index, spec in enumerate(plan["files"][: plan["warmup_files"]]):
        table = auth_records(plan["seed"], index, spec, time.time())
        pq.write_table(table, f"{work}/auth_in/{spec['name']}")
        log.append({"name": spec["name"], "phase": "warmup", "rows": table.num_rows})
    return log


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["cycle", "auth", "feed"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--plan")
    ap.add_argument("--seconds", type=float, default=18.0)
    args = ap.parse_args(argv)
    if args.mode == "cycle":
        gen_cycle(args.seed, args.out)
    elif args.mode == "auth":
        gen_auth(args.seed, args.out)
        with open(f"{args.out}/warmup_log.json", "w") as fh:
            json.dump(drop_warmup(f"{args.out}/plan.json"), fh)
    else:
        feed(args.plan, args.seconds)


if __name__ == "__main__":
    main(sys.argv[1:])
