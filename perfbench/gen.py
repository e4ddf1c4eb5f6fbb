"""Seeded input generator for the benchmark workloads.

Pure Python + pyarrow, no Spark: the same seed gives byte-identical
inputs on any host, and building them costs milliseconds.

The rib streams are BMP ``unicast_prefix`` and ``base_attribute``
messages in Kafka record shape (``key``/``value`` BINARY, ``topic``,
``partition``, ``offset``, ``timestamp``, ``timestampType``), the value
being the openbmp TSV payload that ``sources.kafka.decode_kafka_records``
parses. Every stream carries the FIXTURES.md §3 scenarios:

- advertise -> withdraw -> re-advertise of one (peer, prefix) key;
- the same key twice in one file, the later timestamp written first;
- a prefix advertised by >= 3 peers, one of which withdraws;
- an AS_TRANS (23456) origin;
- prefix_len > 128, which ingest must drop;
- v4 and v6 prefixes.

Message timestamps are unique and rise with file order, so no dedup
decision depends on a timestamp tie.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

T0 = dt.datetime(2026, 1, 5, 12, 0, 0)  # simulated clock origin (UTC)
AS_TRANS = 23456

KAFKA_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("timestampType", pa.int32()),
])


def _h(*parts) -> str:
    return hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()


def fmt_ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


class Clock:
    """Strictly increasing message timestamps (1 ms apart)."""

    def __init__(self, start: dt.datetime):
        self.t = start

    def next(self) -> dt.datetime:
        self.t += dt.timedelta(milliseconds=1)
        return self.t


# -- the key space ------------------------------------------------------

class RibSpace:
    """Peers and a v4+v6 prefix key space. A prefix's ``hash`` is its
    identity across peers, so a prefix seen by several peers shares one
    hash_id under different peer_hash_ids (the global RIB groups it)."""

    def __init__(self, rng: random.Random, n_peers: int, n_prefixes: int,
                 v6_share: float = 0.3):
        self.peers = [_h("peer", rng.random()) for _ in range(n_peers)]
        seen = set()
        self.prefixes = []  # (prefix, prefix_len, is_ipv4, hash)
        while len(self.prefixes) < n_prefixes:
            if rng.random() < v6_share:
                plen = rng.choice((32, 40, 48, 56, 64))
                groups = [rng.randrange(0x2001, 0x2c00)] + [
                    rng.randrange(0, 0x10000) for _ in range(plen // 16 - 1)]
                # zero the bits past plen inside the last group
                rem = plen % 16
                if rem:
                    groups.append(rng.randrange(0, 0x10000)
                                  & (0xFFFF << (16 - rem)) & 0xFFFF)
                pfx = ":".join(f"{g:x}" for g in groups) + "::"
                v4 = False
            else:
                plen = rng.choice((16, 20, 22, 24, 24, 24))
                addr = rng.randrange(1 << 24, 223 << 24)
                addr &= (0xFFFFFFFF << (32 - plen)) & 0xFFFFFFFF
                pfx = ".".join(str((addr >> s) & 255) for s in (24, 16, 8, 0))
                v4 = True
            if (pfx, plen) in seen:
                continue
            seen.add((pfx, plen))
            self.prefixes.append((pfx, plen, v4, _h("pfx", pfx, plen)))
        self.origins = [rng.randrange(64512, 65535) for _ in range(64)]


def unicast_msg(action: str, peer: str, pfx: tuple, attr: str, origin: int,
                ts: dt.datetime) -> str:
    prefix, plen, v4, h = pfx
    wd = action == "del"
    return "\t".join((
        action, h, peer, "" if wd else attr, "1" if v4 else "0",
        str(origin), prefix, str(plen), "1" if wd else "0", "0",
        "", "1", "1", fmt_ts(ts)))


def attr_msg(attr: str, peer: str, origin: int, rng: random.Random,
             ts: dt.datetime) -> str:
    path = [rng.randrange(1, 65000) for _ in range(rng.randrange(1, 6))]
    path.append(origin)
    comms = " ".join(f"{rng.randrange(1, 65535)}:{rng.randrange(1, 999)}"
                     for _ in range(rng.randrange(0, 4)))
    return "\t".join((
        attr, peer, "igp", " ".join(map(str, path)), str(len(path)),
        str(origin), f"10.{rng.randrange(256)}.{rng.randrange(256)}.1",
        str(rng.randrange(0, 200)), "100", "0", "", comms, "", "", "", "",
        "1", fmt_ts(ts)))


class MessageStream:
    """Generates unicast_prefix + base_attribute messages over a
    RibSpace. ``adv`` holds every key advertised so far, so withdraws
    and re-advertisements hit live keys."""

    def __init__(self, rng: random.Random, space: RibSpace,
                 start: dt.datetime):
        self.rng = rng
        self.space = space
        self.clock = Clock(start)
        self.adv: dict[tuple, str] = {}   # (peer, hash) -> attr
        self.attrs_sent: set = set()
        self._by_hash = {p[3]: p for p in space.prefixes}

    def _advert(self, peer: str, pfx: tuple, uni: list, att: list,
                ts: dt.datetime | None = None, origin: int | None = None):
        rng = self.rng
        origin = origin or rng.choice(self.space.origins)
        attr = _h("attr", peer, origin, rng.randrange(4))
        t = ts or self.clock.next()
        if (peer, attr) not in self.attrs_sent:
            self.attrs_sent.add((peer, attr))
            att.append((peer, attr_msg(attr, peer, origin, rng, t)))
        uni.append((peer, unicast_msg("add", peer, pfx, attr, origin, t)))
        self.adv[(peer, pfx[3])] = attr

    def dump(self, peers_per_prefix: int = 3) -> tuple[list, list]:
        """A full RIB dump: every prefix from ``peers_per_prefix``
        peers, plus the scenario set."""
        uni, att = [], []
        sp = self.space
        for i, pfx in enumerate(sp.prefixes):
            k = min(len(sp.peers), peers_per_prefix + (i % 3 == 0))
            for peer in self.rng.sample(sp.peers, k):
                self._advert(peer, pfx, uni, att)
        self.scenarios(uni, att)
        return uni, att

    def updates(self, n: int) -> tuple[list, list]:
        """Live churn: adds of new keys, withdraws, re-advertisements,
        and the same key twice in one file (later timestamp first)."""
        rng, sp = self.rng, self.space
        uni, att = [], []
        keys = list(self.adv)
        while len(uni) < n:
            r = rng.random()
            pfx = sp.prefixes[rng.randrange(len(sp.prefixes))]
            peer = rng.choice(sp.peers)
            if r < 0.35 and keys:
                peer, h = keys[rng.randrange(len(keys))]
                pfx = self._by_hash[h]
                uni.append((peer, unicast_msg(
                    "del", peer, pfx, "", rng.choice(sp.origins),
                    self.clock.next())))
            elif r < 0.45:
                # same key twice in one file: the later message first
                t1, t2 = self.clock.next(), self.clock.next()
                self._advert(peer, pfx, uni, att, ts=t2)
                first = uni.pop()
                self._advert(peer, pfx, uni, att, ts=t1)
                uni.insert(len(uni) - 1, first)
                self.adv[(peer, pfx[3])] = first[1].split("\t")[3]
            else:
                self._advert(peer, pfx, uni, att)
        return uni, att

    def scenarios(self, uni: list, att: list) -> None:
        sp, c = self.space, self.clock
        v4 = next(p for p in sp.prefixes if p[2])
        v6 = next(p for p in sp.prefixes if not p[2])
        p0, p1, p2 = sp.peers[:3]
        # advertise -> withdraw -> re-advertise (v6 key)
        self._advert(p0, v6, uni, att)
        uni.append((p0, unicast_msg("del", p0, v6, "", 0, c.next())))
        self._advert(p0, v6, uni, att)
        # >= 3 peers on one prefix, one withdraws
        for p in (p0, p1, p2):
            self._advert(p, v4, uni, att)
        uni.append((p2, unicast_msg("del", p2, v4, "", 0, c.next())))
        # AS_TRANS origin
        self._advert(p1, sp.prefixes[2], uni, att, origin=AS_TRANS)
        # prefix_len > 128: dropped by ingest
        bad = ("2001:db8::", 129, False, _h("pfx", "bad", 129))
        uni.append((p1, unicast_msg("add", p1, bad, "deadbeef", 65001,
                                    c.next())))
        # the same attr twice: one base_attrs row
        if att:
            att.append(att[-1])


def kafka_table(msgs: list, msg_type: str) -> pa.Table:
    n = len(msgs)
    return pa.table({
        "key": [p.encode() for p, _ in msgs],
        "value": [v.encode() for _, v in msgs],
        "topic": ["openbmp.parsed." + msg_type] * n,
        "partition": pa.array([0] * n, pa.int32()),
        "offset": pa.array(range(n), pa.int64()),
        "timestamp": pa.array([T0] * n, pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array([0] * n, pa.int32()),
    }, schema=KAFKA_SCHEMA)


def write_records(path: str, msgs: list, msg_type: str) -> None:
    pq.write_table(kafka_table(msgs, msg_type), path,
                   compression="none")


def split(msgs: list, n_files: int) -> list[list]:
    """Contiguous chunks, so timestamps rise with file order."""
    step = -(-len(msgs) // n_files)
    return [msgs[i:i + step] for i in range(0, len(msgs), step)]


def digest(*msg_lists) -> str:
    """sha256 over the generated payload bytes, in order."""
    h = hashlib.sha256()
    for msgs in msg_lists:
        for p, v in msgs:
            h.update(p.encode())
            h.update(b"\x00")
            h.update(v.encode())
            h.update(b"\n")
    return h.hexdigest()


# -- workload inputs ----------------------------------------------------

def rib_inputs(seed: int, n_prefixes: int, n_files: int,
               msgs_per_file: int, n_peers: int = 12):
    """The rib workload's inputs, one key space throughout:

    - a RIB dump (unicast + attrs) for the backfill phase, timestamps
      from T0 - 1h;
    - ``n_files`` live update files for the steady phase (the first
      also carries the scenarios);
    - the dimension tables the jobs and views join."""
    rng = random.Random(seed)
    space = RibSpace(rng, n_peers, n_prefixes)
    ms = MessageStream(rng, space, T0 - dt.timedelta(hours=1))
    uni, att = ms.dump()
    files = []
    for i in range(n_files):
        upd, _ = ms.updates(msgs_per_file)
        if i == 0:
            ms.scenarios(upd, [])
        files.append(upd)
    return uni, att, files, dimension_rows(rng, space)


# The cron cycle's clock: every rib message is stamped within a minute
# of T0 - 1h, so the change-stats window [CRON_NOW - 5 min, CRON_NOW)
# covers them all and the first global-RIB slice (from CRON_NOW - 2 h)
# consolidates the whole RIB.
CRON_NOW = T0 - dt.timedelta(minutes=55)


def dimension_rows(rng: random.Random, space: RibSpace) -> dict:
    """bgp_peers, routers, info_asn, and info_route/rpki_validator with
    nested prefixes (a covering ROA for a subset of the v4 space)."""
    routers = [(_h("router", i), f"rtr{i}", f"192.0.2.{i + 1}")
               for i in range(2)]
    peers = []
    for i, ph in enumerate(space.peers):
        r = routers[i % len(routers)]
        peers.append({"hash_id": ph, "router_hash_id": r[0],
                      "peer_addr": f"198.51.100.{i + 1}",
                      "peer_as": 64600 + i, "name": f"peer{i}",
                      "is_ipv4": True, "state": "up"})
    info_route, rpki = [], []
    for pfx, plen, v4, _ in space.prefixes[::7]:
        origin = rng.choice(space.origins)
        info_route.append((pfx, plen, f"route {pfx}", origin, "RADB"))
        if v4:
            rpki.append((pfx, plen, min(plen + 8, 32), origin))
            # a covering /8 ROA: nested prefixes
            top = pfx.split(".")[0] + ".0.0.0"
            rpki.append((top, 8, 24, rng.choice(space.origins)))
    info_asn = [(a, f"AS-{a}") for a in space.origins]
    return {"routers": routers, "peers": peers, "info_route": info_route,
            "rpki": sorted(set(rpki)), "info_asn": info_asn}


# -- curation -------------------------------------------------------------

_WORDS = [w + str(i) for w in (
    "key agg row scan slow fast table value part hash merge batch spark "
    "the line sort window data column join small customer query order "
    "group stream filter big vector a").split() for i in range(13)]


def curation_inputs(seed: int, n_docs: int, n_vecs: int, dim: int = 64,
                    n_labels: int = 4):
    """documents in planted near-duplicate pairs (a base text and a
    copy with one word changed), and clustered embeddings (label =
    cluster, gaussian around a per-cluster centre). The vocabulary is
    large enough that unrelated documents rarely share shingles, and
    every cluster has the same shape, so the dedup work (candidate
    pairs, connected-component rounds) depends on the seed only
    through chance collisions, not through the cluster structure."""
    rng = random.Random(seed)
    docs = []
    while len(docs) < n_docs:
        words = [rng.choice(_WORDS) for _ in range(rng.randrange(20, 60))]
        for copy in range(2):
            if copy:
                words = list(words)
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
            i = len(docs)
            docs.append({"doc_id": i, "text": text, "lang": "en",
                         "source": f"src{i % 7}", "n_chars": len(text)})
    centres = [[rng.gauss(0, 1) for _ in range(dim)]
               for _ in range(n_labels)]
    vecs = []
    for i in range(n_vecs):
        lab = rng.randrange(n_labels)
        v = [c + rng.gauss(0, 1.2) for c in centres[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append({"vec_id": i, "embedding": [x / norm for x in v],
                     "label": lab})
    return docs, vecs


def write_curation(sf_dir: str, docs: list, vecs: list) -> None:
    import os
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])),
        os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist(vecs, schema=pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])),
        os.path.join(sf_dir, "embeddings.parquet"))
