"""Seeded Singer corpus generator for the ingest benchmark.

Every corpus comes with a sidecar that says what the target must produce:
per-stream row counts, an order-independent checksum over the flattened
output columns (nested objects as ``parent__child``, arrays as their Python
``str()`` rendering, the way the target renders them), and the final STATE
bookmark.  The same seed always gives the same bytes.
"""
import hashlib
import json
import random

EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
STATUSES = ["new", "paid", "shipped", "returned"]
CITIES = ["Lyon", "Oslo", "Porto", "Quito", "Accra", "Hanoi", "Perth"]
TAGS = ["red", "blue", "sale", "gift", "bulk", "promo", "o'clock"]
SYMBOLS = ["AAA", "BBB", "CCC", "DDD", "EEE"]
# Columns whose value the target derives from its own clock.
CLOCK_COLUMNS = {"_sdc_batched_at"}

N = {"type": ["null", "integer"]}
S = {"type": ["null", "string"]}
F = {"type": ["null", "number"]}
B = {"type": ["null", "boolean"]}
T = {"type": ["null", "string"], "format": "date-time"}


def _ts(rng, base=1_700_000_000):
    s = base + rng.randrange(0, 30 * 86400)
    return "%04d-%02d-%02dT%02d:%02d:%02d.%06dZ" % (
        2023, 11 + s // (30 * 86400), 1 + (s // 86400) % 28, (s // 3600) % 24,
        (s // 60) % 60, s % 60, rng.randrange(1_000_000))


def flatten(record, schema_props, prefix=""):
    """The target's flattened row: objects recurse, arrays become their
    Python repr, declared fields missing from the record are null."""
    out = {}
    for k, v in record.items():
        name = prefix + k
        sub = schema_props.get(k, {})
        if isinstance(v, dict) and "properties" in sub:
            out.update(flatten(v, sub["properties"], name + "__"))
        elif isinstance(v, list):
            out[name] = str(v)
        else:
            out[name] = v
    for k, sub in schema_props.items():
        if k in record:
            continue
        if "properties" in sub:
            out.update(flatten({}, sub["properties"], prefix + k + "__"))
        else:
            out[prefix + k] = None
    return out


def row_hash(row):
    """64-bit hash of one flattened row, keyed by column name.  Null cells
    are left out, so a column that one schema epoch lacks hashes the same as
    a null one."""
    canon = json.dumps(sorted((k, repr(v) if isinstance(v, float) else v)
                              for k, v in row.items()
                              if v is not None and k not in CLOCK_COLUMNS))
    return int.from_bytes(hashlib.blake2b(canon.encode(), digest_size=8).digest(), "big")


class Expected:
    """Running per-stream row count and checksum (sum of row hashes mod 2^64)."""

    def __init__(self):
        self.streams = {}

    def add(self, stream, row):
        s = self.streams.setdefault(stream, {"rows": 0, "checksum": 0})
        s["rows"] += 1
        s["checksum"] = (s["checksum"] + row_hash(row)) % (1 << 64)

    def to_json(self):
        return {k: {"rows": v["rows"], "checksum": "%016x" % v["checksum"]}
                for k, v in sorted(self.streams.items())}


def schema_msg(stream, props, required=()):
    schema = {"type": "object", "properties": props}
    if required:
        schema["required"] = list(required)
    return {"type": "SCHEMA", "stream": stream, "schema": schema, "key_properties": ["id"]}


def record_msg(stream, record, extracted=None):
    m = {"type": "RECORD", "stream": stream, "record": record}
    if extracted is not None:
        m["time_extracted"] = extracted
    return m


def dumps(m):
    return json.dumps(m, separators=(",", ":"))


# --- batch_flat: one events stream of six scalars ----------------------------

FLAT_PROPS = {
    "id": dict(N, minimum=0),
    "user_id": dict(N, minimum=0, maximum=1_000_000),
    "event_type": dict(S, enum=EVENT_TYPES),
    "amount": dict(F, minimum=0, maximum=10_000),
    "ts": T,
    "is_test": B,
}


def flat_record(rng, i):
    return {"id": i, "user_id": rng.randrange(1_000_000),
            "event_type": rng.choice(EVENT_TYPES),
            "amount": round(rng.uniform(0, 10_000), 2),
            "ts": _ts(rng), "is_test": rng.random() < 0.05}


def batch_flat(seed, n_records, state_every):
    rng = random.Random(seed)
    exp = Expected()
    lines = [dumps(schema_msg("events", FLAT_PROPS, ["id", "event_type"]))]
    seq = 0
    for i in range(n_records):
        rec = flat_record(rng, i)
        lines.append(dumps(record_msg("events", rec)))
        exp.add("events", flatten(rec, FLAT_PROPS))
        if (i + 1) % state_every == 0 or i + 1 == n_records:
            lines.append(dumps(state_value(seq)))
            seq += 1
    return lines, sidecar(exp, seq - 1, n_records)


# --- batch_nested: 8 interleaved streams, nested objects and arrays -----------

NESTED_PROPS = {
    "id": dict(N, minimum=0),
    "customer": {"type": ["null", "object"], "properties": {
        "id": N, "name": dict(S, maxLength=64),
        "address": {"type": ["null", "object"], "properties": {
            "city": S, "zip": dict(S, pattern="^[0-9]{5}$")}}}},
    "tags": {"type": ["null", "array"], "items": {"type": "string"}},
    "items": {"type": ["null", "array"], "items": {"type": "object", "properties": {
        "sku": {"type": "string"}, "qty": {"type": "integer"}}}},
    "total": dict(F, minimum=0),
    "status": dict(S, enum=STATUSES),
    "created_at": T,
}
NESTED_PROPS_V2 = dict(NESTED_PROPS, priority=dict(N, minimum=0, maximum=9))
NESTED_STREAMS = ["orders_%d" % k for k in range(8)]


def nested_record(rng, i, v2):
    rec = {"id": i,
           "customer": {"id": rng.randrange(100_000), "name": "cust-%d" % rng.randrange(5000),
                        "address": {"city": rng.choice(CITIES),
                                    "zip": "%05d" % rng.randrange(100_000)}},
           "tags": rng.sample(TAGS, rng.randrange(0, 4)),
           "items": [{"sku": "SKU-%d" % rng.randrange(1000), "qty": rng.randrange(1, 9)}
                     for _ in range(rng.randrange(1, 4))],
           "total": round(rng.uniform(0, 2000), 2),
           "status": rng.choice(STATUSES),
           "created_at": _ts(rng)}
    if v2:
        rec["priority"] = rng.randrange(10)
    if rng.random() < 0.1:
        rec["coupon"] = "SAVE%d" % rng.randrange(5, 50, 5)  # undeclared field
    return rec


def batch_nested(seed, n_records, state_every):
    rng = random.Random(seed)
    exp = Expected()
    lines = [dumps(schema_msg(s, NESTED_PROPS, ["id"])) for s in NESTED_STREAMS]
    per_stream = {s: 0 for s in NESTED_STREAMS}
    half = n_records // len(NESTED_STREAMS) // 2
    seq = 0
    for i in range(n_records):
        stream = rng.choice(NESTED_STREAMS)
        v2 = per_stream[stream] >= half
        if per_stream[stream] == half:  # mid-run SCHEMA re-emit
            lines.append(dumps(schema_msg(stream, NESTED_PROPS_V2, ["id"])))
        per_stream[stream] += 1
        rec = nested_record(rng, i, v2)
        extracted = _ts(rng)
        lines.append(dumps(record_msg(stream, rec, extracted)))
        row = flatten(rec, NESTED_PROPS_V2 if v2 else NESTED_PROPS)
        row["_sdc_extracted_at"] = extracted
        exp.add(stream, row)
        if (i + 1) % state_every == 0 or i + 1 == n_records:
            lines.append(dumps(state_value(seq)))
            seq += 1
    return lines, sidecar(exp, seq - 1, n_records)


# --- stream_bursts: flat ticks, one burst of records plus a STATE per tick ---

TICK_PROPS = {
    "id": dict(N, minimum=0), "burst": N, "symbol": dict(S, enum=SYMBOLS),
    "price": dict(F, minimum=0), "qty": dict(N, minimum=1), "ts": T,
}


def tick_record(rng, i, burst):
    return {"id": i, "burst": burst, "symbol": rng.choice(SYMBOLS),
            "price": round(rng.uniform(1, 500), 2), "qty": rng.randrange(1, 1000),
            "ts": _ts(rng)}


def tick_schema():
    return dumps(schema_msg("ticks", TICK_PROPS, ["id"]))


def tick_burst(rng, first_id, burst, n):
    """(lines, flattened rows) of one burst: n RECORDs then STATE seq=burst."""
    recs = [tick_record(rng, first_id + j, burst) for j in range(n)]
    lines = [dumps(record_msg("ticks", r)) for r in recs] + [dumps(state_value(burst))]
    return lines, [flatten(r, TICK_PROPS) for r in recs]


# --- shared ------------------------------------------------------------------

def state_value(seq):
    return {"type": "STATE", "value": {"seq": seq, "bookmarks": {"corpus": "ingestbench"}}}


def sidecar(exp, last_seq, n_records):
    return {"records": n_records, "streams": exp.to_json(),
            "state": state_value(last_seq)["value"]}


def warmup(workload):
    """One-record input (SCHEMA, RECORD, STATE) shaped like the workload."""
    rng = random.Random(0)
    exp = Expected()
    if workload == "batch_nested":
        stream, props, rec = NESTED_STREAMS[0], NESTED_PROPS, nested_record(rng, 0, False)
        extracted = _ts(rng)
        row = flatten(rec, props)
        row["_sdc_extracted_at"] = extracted
        rec_line = dumps(record_msg(stream, rec, extracted))
    else:
        if workload == "stream_bursts":
            stream, props, rec = "ticks", TICK_PROPS, tick_record(rng, 0, -1)
        else:
            stream, props, rec = "events", FLAT_PROPS, flat_record(rng, 0)
        row = flatten(rec, props)
        rec_line = dumps(record_msg(stream, rec))
    exp.add(stream, row)
    lines = [dumps(schema_msg(stream, props, ["id"])), rec_line, dumps(state_value(-1))]
    return lines, sidecar(exp, -1, 1)


def write_corpus(path, lines, side):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(path + ".expected.json", "w") as f:
        json.dump(side, f, indent=1)
