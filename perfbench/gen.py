"""Seeded workload generators and their oracles.

Everything the engine sees is made here from `--seed`: KPL shard stores of
reference-schema events (records_http, stream_catchup) and document batches
with planted duplicates (corpus_gate). The same seed gives byte-identical
files. The oracle side computes, independently of the program, the answer
each operation must produce.

The KPL encoder below is written from the wire format, not borrowed from the
program, so a symmetric bug in the program's codec cannot hide itself.
"""
import bisect
import hashlib
import os
import random
import re
import struct
import zlib
from urllib.parse import urlencode

NOW_MS = 1767225600000  # the server's fixed clock: 2026-01-01T00:00:00Z
MAX_LOOKBACK_MIN = 960
DEFAULT_DURATION_MIN = 10
SPAN_MIN = 1000  # the store reaches a little past the maximum lookback
PER_FRAME = 50
MAGIC = bytes([0xF3, 0x89, 0x9A, 0xC2])
CONTACT = "com.incontact.datainfra.events.ContactEvent"
AGENT = "com.incontact.datainfra.events.AgentEvent"

REQUIRED = ("streamname",)
ALLOWED = ("duration", "streamname", "contactId", "agentId", "serverName",
           "tenantId", "agentShiftId")
NUMERIC = ("duration", "contactId", "agentId", "tenantId", "agentShiftId")

ROW_START = re.compile(r'\{"eventId":"(\d{8})"')


# ---- KPL wire format ---------------------------------------------------------

def _varint(n):
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _field(num, data):
    return _varint((num << 3) | 2) + _varint(len(data)) + data


def kpl_body(pk, payloads):
    """Protobuf AggregatedRecord: one partition key, records pointing at it."""
    return _field(1, pk.encode()) + b"".join(
        _field(3, b"\x08\x00" + _field(3, p)) for p in payloads)


def kpl_aggregate(pk, payloads):
    body = kpl_body(pk, payloads)
    return MAGIC + body + hashlib.md5(body).digest()


def kpl_corrupt(pk, payloads):
    """A KPL aggregate cut inside its last record: magic present, body
    undecodable, so the engine drops the whole aggregate."""
    body = kpl_body(pk, payloads)[:-7]
    return MAGIC + body + hashlib.md5(body).digest()


def frame_bytes(ts_ms, pk, data):
    pkb = pk.encode()
    return struct.pack(">qi", ts_ms, len(pkb)) + pkb + struct.pack(">i", len(data)) + data


# ---- reference-schema events ------------------------------------------------

def _ul(v):
    return "null" if v is None else '{"long":%d}' % v


def _us(v):
    return "null" if v is None else '{"string":"%s"}' % v


class Record:
    __slots__ = ("eid", "ts", "kind", "c", "a", "s", "t", "server", "payload")

    def matches(self, q):
        """The `/records` filter semantics: each supplied filter matches the
        main or the alt field; a missing path or invalid JSON never matches;
        no filter matches everything, invalid JSON included."""
        if "contactId" in q and (self.kind != "c" or q["contactId"] not in self.c):
            return False
        if "agentId" in q and (self.kind != "a" or q["agentId"] not in self.a):
            return False
        if "agentShiftId" in q and (self.kind != "a" or q["agentShiftId"] not in self.s):
            return False
        if "tenantId" in q and (self.kind == "x" or q["tenantId"] not in self.t):
            return False
        if "serverName" in q and (self.kind == "x" or self.server != q["serverName"].lower()):
            return False
        return True


class Universe:
    """Tenants, contacts, agents and shifts the events refer to."""

    def __init__(self, rng):
        self.tenants = rng.sample(range(1000, 99999), 8)
        self.tenant_w = [30, 20, 15, 10, 10, 7, 5, 3]
        self.servers = {t: "c%d-prod-%s" % (i + 1, rng.choice("abcdefgh"))
                        for i, t in enumerate(self.tenants)}
        self.contacts = rng.sample(range(10 ** 8, 10 ** 9), 3000)
        self.agents = rng.sample(range(10 ** 5, 10 ** 6), 400)
        self.shifts = {a: rng.sample(range(10 ** 7, 10 ** 8), 2) for a in self.agents}


def _pair(rng, v, other):
    """Avro-union main/alt pair for an id: mostly main only, some alt only,
    some both (alt sometimes a different id)."""
    r = rng.random()
    if r < 0.80:
        return v, None
    if r < 0.92:
        return None, v
    if r < 0.96:
        return v, v
    return other, v


def _case(rng, name):
    """The server name in one of the letter cases the reference sees."""
    return rng.choice((name, name.upper(), name.title(), name.capitalize()))


def make_record(rng, u, eid, ts):
    r = Record()
    r.eid, r.ts = eid, ts
    tenant = rng.choices(u.tenants, weights=u.tenant_w)[0]
    tr = rng.random()
    tm, ta = (tenant, None) if tr < 0.88 else (None, tenant) if tr < 0.96 else (None, None)
    r.t = {x for x in (tm, ta) if x is not None}
    server = _case(rng, u.servers[tenant]) if rng.random() < 0.9 else None
    r.server = server.lower() if server else None
    tenant_json = '"tenantId":{"tenantId":%s,"tenantIdAlt":%s,"serverName":%s}' % (
        _ul(tm), _ul(ta), _us(server))
    if rng.random() < 0.01:
        r.kind = "x"
        r.c = r.a = r.s = ()
        r.t, r.server = set(), None
        r.payload = '{"eventId":"%08d","tenantId" {"tenantId":%s}}' % (eid, _ul(tenant))
        return r
    if rng.random() < 0.55:
        r.kind = "c"
        cm, ca = _pair(rng, rng.choice(u.contacts), rng.choice(u.contacts))
        r.c = {x for x in (cm, ca) if x is not None}
        r.a = r.s = ()
        body = ('"baseEventData":{"%s":{"mediaScopeIdentification":{"contactIdentification":'
                '{"contactId":%s,"contactIdAlt":%s}}}}' % (CONTACT, _ul(cm), _ul(ca)))
    else:
        r.kind = "a"
        agent = rng.choice(u.agents)
        am, aa = _pair(rng, agent, rng.choice(u.agents))
        sm, sa = _pair(rng, rng.choice(u.shifts[agent]), rng.choice(u.shifts[agent]))
        r.a = {x for x in (am, aa) if x is not None}
        r.s = {x for x in (sm, sa) if x is not None}
        r.c = ()
        body = ('"baseEventData":{"%s":{"agentShiftIdentification":{"agentIdentification":'
                '{"agentId":%s,"agentIdAlt":%s},"agentShiftId":%s,"agentShiftIdAlt":%s}}}' % (
                    AGENT, _ul(am), _ul(aa), _ul(sm), _ul(sa)))
    r.payload = '{"eventId":"%08d",%s,%s,"eventTime":%d}' % (eid, body, tenant_json, ts)
    return r


class Store:
    """A KPL shard store and the user records the engine must see in it.

    Frames per shard are in arrival order over the last SPAN_MIN minutes.
    About 2 % of frames are corrupt aggregates (dropped whole by the engine),
    2 % are bare non-KPL records, the rest are 50-record aggregates; about 1 %
    of payloads are invalid JSON."""

    def __init__(self, seed, shards, frames_per_shard):
        rng = random.Random(seed)
        self.universe = Universe(rng)
        self.files = {}
        self.records = []  # every user record the engine yields, any order
        self.frames = 0
        eid = 0
        span_ms = SPAN_MIN * 60000
        for shard in range(shards):
            ts_list = sorted(NOW_MS - span_ms + rng.randrange(span_ms) for _ in range(frames_per_shard))
            out = bytearray()
            for i, ts in enumerate(ts_list):
                pk = "pk-%d-%d" % (shard, i)
                kind = rng.random()
                n = 1 if kind < 0.02 else PER_FRAME
                recs = []
                for _ in range(n):
                    eid += 1
                    recs.append(make_record(rng, self.universe, eid, ts))
                payloads = [r.payload.encode() for r in recs]
                if kind < 0.02:
                    data = payloads[0]
                elif kind < 0.04:
                    data = kpl_corrupt(pk, payloads)
                    recs = []
                else:
                    data = kpl_aggregate(pk, payloads)
                self.records.extend(recs)
                out += frame_bytes(ts, pk, data)
            self.files["shard-%05d.kpl" % shard] = bytes(out)
            self.frames += frames_per_shard
        self.records.sort(key=lambda r: r.ts)
        self._ts = [r.ts for r in self.records]
        self.by_id = {r.eid: r for r in self.records}

    def write(self, directory):
        os.makedirs(directory, exist_ok=True)
        for name, data in self.files.items():
            with open(os.path.join(directory, name), "wb") as fh:
                fh.write(data)

    def window(self, duration_min):
        start = NOW_MS - min(duration_min, MAX_LOOKBACK_MIN) * 60000
        return self.records[bisect.bisect_left(self._ts, start):]

    def select(self, q, duration_min):
        return [r for r in self.window(duration_min) if r.matches(q)]


# ---- /records requests and their expected answers ---------------------------

def _is_long(v):
    return re.fullmatch(r"[+-]?\d{1,18}", v) is not None


def validation_error(params):
    """The 400 body for invalid params, or None when they validate."""
    missing = sorted(k for k in REQUIRED if k not in params)
    unknown = [k for k in params if k not in ALLOWED]
    malformed = [k for k, v in params.items() if k in NUMERIC and not _is_long(v)]
    invalid = sorted(set(unknown + malformed))
    if not missing and not invalid:
        return None
    arr = lambda xs: "[" + ",".join('"%s"' % x for x in xs) + "]"
    return '{"badRequest":true,"missingRequiredParams":%s,"invalidParams":%s}' % (
        arr(missing), arr(invalid))


def expected(store, params):
    """(status, expected body or the expected record ids)."""
    err = validation_error(params)
    if err is not None:
        return 400, err
    q = {}
    for k in ("contactId", "agentId", "agentShiftId", "tenantId"):
        if k in params:
            q[k] = int(params[k])
    if "serverName" in params:
        q["serverName"] = params["serverName"]
    duration = int(params.get("duration", DEFAULT_DURATION_MIN))
    return 200, sorted(r.eid for r in store.select(q, duration))


def check_response(store, params, status, body):
    """None when the response is the oracle's answer, else a reason.
    Row order is free; every row must be byte-identical to its payload."""
    want_status, want = expected(store, params)
    if status != want_status:
        return "status %s, expected %s" % (status, want_status)
    if want_status == 400:
        return None if body == want else "400 body differs"
    ids = [int(m) for m in ROW_START.findall(body)]
    if sorted(ids) != want:
        return "rows %d, expected %d (or different ids)" % (len(ids), len(want))
    rebuilt = "[" + ",".join(store.by_id[i].payload for i in ids) + "]"
    return None if rebuilt == body else "row bytes differ"


BLOCK = ["contact"] * 5 + ["agent"] * 4 + ["shift"] * 3 + ["tenant"] * 2 + \
        ["server"] * 2 + ["broad"] * 2 + ["combined", "invalid"]


def requests(seed, store, n):
    """n request param dicts: the mix of BLOCK (20 requests) in a seeded
    order per block, values drawn from the store's universe."""
    rng = random.Random(seed * 7919 + 17)
    u = store.universe
    out = []
    invalid_variants = [
        lambda: {"contactId": str(rng.choice(u.contacts))},
        lambda: {"streamname": "bench", "shard": "0"},
        lambda: {"streamname": "bench", "agentId": "%dx" % rng.choice(u.agents)},
        lambda: {"streamname": "bench", "duration": "soon", "tenantId": "abc"},
    ]
    while len(out) < n:
        block = BLOCK[:]
        rng.shuffle(block)
        for kind in block:
            p = {"streamname": "bench"}
            if kind == "contact":
                p["contactId"] = str(rng.choice(u.contacts))
                p["duration"] = str(rng.choice((60, 240, 480, 960, 1440)))
            elif kind == "agent":
                p["agentId"] = str(rng.choice(u.agents))
                p["duration"] = str(rng.choice((30, 60, 120)))
            elif kind == "shift":
                p["agentShiftId"] = str(rng.choice(u.shifts[rng.choice(u.agents)]))
                p["duration"] = str(rng.choice((60, 240, 480)))
            elif kind == "tenant":
                p["tenantId"] = str(rng.choices(u.tenants, weights=u.tenant_w)[0])
                if rng.random() < 0.67:
                    p["duration"] = str(rng.choice((5, 15)))
            elif kind == "server":
                p["serverName"] = _case(rng, u.servers[rng.choice(u.tenants)])
                if rng.random() < 0.67:
                    p["duration"] = str(rng.choice((5, 15)))
            elif kind == "broad":
                p["duration"] = str(rng.choice((3, 5, 8)))
            elif kind == "combined":
                p["contactId"] = str(rng.choice(u.contacts))
                p["tenantId"] = str(rng.choice(u.tenants))
                p["duration"] = "960"
            else:
                p = invalid_variants[rng.randrange(len(invalid_variants))]()
            out.append(p)
    return out[:n]


def url(params):
    return "/records?" + urlencode(params)


# ---- stream_catchup drain ---------------------------------------------------

def drain_params(store):
    """The catch-up query: the full lookback, filtered to the tenant whose
    share is closest to a quarter of the records."""
    counts = {t: 0 for t in store.universe.tenants}
    for r in store.window(MAX_LOOKBACK_MIN):
        for t in r.t:
            counts[t] += 1
    n = max(1, len(store.window(MAX_LOOKBACK_MIN)))
    tenant = min(counts, key=lambda t: (abs(counts[t] / n - 0.25), t))
    return {"streamname": "bench", "tenantId": str(tenant), "duration": str(MAX_LOOKBACK_MIN)}


def drain_expected(store, params):
    """(user records the drain decodes, output count, sum of CRC-32 of each
    output record's bytes)."""
    rows = store.select({"tenantId": int(params["tenantId"])}, int(params["duration"]))
    return (len(store.window(int(params["duration"]))), len(rows),
            sum(zlib.crc32(r.payload.encode()) for r in rows))


# ---- corpus_gate documents ---------------------------------------------------

class Corpus:
    """A base corpus for the index and gate batches with planted copies.

    Batch docs are fresh text, exact copies, or near copies (about 4 % of
    words replaced) of base docs or of fresh docs from earlier batches.
    Ids are unique across the corpus and all batches."""

    def __init__(self, seed, base_docs, batch_docs, batches):
        rng = random.Random(seed * 104729 + 3)
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = set()
        while len(vocab) < 4000:
            vocab.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
        self.vocab = sorted(vocab)
        rng.shuffle(self.vocab)
        cum, acc = [], 0.0
        for i in range(len(self.vocab)):
            acc += 1.0 / (i + 1) ** 0.8
            cum.append(acc)
        self._cum = cum
        self._rng = rng
        self.next_id = 1
        self.base = [self._doc(self._fresh()) for _ in range(base_docs)]
        self.batches = []
        self.exact = set()  # planted exact copies
        self.near = set()   # planted near copies
        fresh_pool = []
        for _ in range(batches):
            batch, new_fresh = [], []
            for _ in range(batch_docs):
                r = rng.random()
                pool = fresh_pool if (fresh_pool and rng.random() < 0.4) else self.base
                if r < 0.5:
                    d = self._doc(self._fresh())
                    new_fresh.append(d)
                elif r < 0.8:
                    d = self._doc(rng.choice(pool)[1])
                    self.exact.add(d[0])
                else:
                    d = self._doc(self._edit(rng.choice(pool)[1]))
                    self.near.add(d[0])
                batch.append(d)
            fresh_pool.extend(new_fresh)
            self.batches.append(batch)

    def _fresh(self):
        n = self._rng.randint(60, 140)
        return " ".join(self._rng.choices(self.vocab, cum_weights=self._cum, k=n))

    def _edit(self, text):
        words = text.split(" ")
        for _ in range(max(1, len(words) // 25)):
            words[self._rng.randrange(len(words))] = self._rng.choice(self.vocab)
        return " ".join(words)

    def _doc(self, text):
        d = (self.next_id, text)
        self.next_id += 1
        return d


def write_docs(path, docs):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for i, text in docs:
            fh.write("%d\t%s\n" % (i, text))


def check_gate(sent, exact, verdicts, index_growth):
    """None when gate verdicts meet the invariants, else a reason: one
    verdict per doc id sent, index growth equal to the novel verdicts, and
    every planted exact copy (ids in `exact`) flagged a duplicate."""
    got = {}
    for doc_id, novel in verdicts:
        if doc_id in got:
            return "two verdicts for doc %d" % doc_id
        got[doc_id] = novel
    if sorted(got) != sorted(sent):
        return "verdicts for %d docs, sent %d" % (len(got), len(sent))
    novel = sum(1 for v in got.values() if v)
    if novel != index_growth:
        return "index grew by %d, novel verdicts %d" % (index_growth, novel)
    missed = [i for i in sent if i in exact and got[i]]
    if missed:
        return "%d planted exact copies verdicted novel" % len(missed)
    return None
