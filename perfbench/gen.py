"""Seeded input generators for every workload.

Every function takes the seed and returns (or writes) the same inputs for
the same seed. The engine under test never sees the seed, only these
inputs.
"""

from __future__ import annotations

import json
import os
import random

# -- emit_route ------------------------------------------------------------

EVENT_NAMES = [
    "order-created", "order_paid", "order shipped", "payment-failed",
    "user_signed-up", "cart updated", "quote-requested", "policy_issued",
]
FOLLOW_UP_TOPIC = "audit"
FOLLOW_UP_EVENT = "follow-up"
# The op mix is an assumption: the reference's own harness sends only large
# events (4 topics x 101 messages of its 216-record fixture, BASELINE.md),
# while a service mostly emits small ones. These shares put p50 among the
# small events and p90 among the fan-out lists, away from a share boundary.
SMALL_SHARE = 0.75
LARGE_SHARE = 0.05


def emit_topics(n_topics: int) -> list[str]:
    return [f"svc-{i}.events" for i in range(n_topics)]


def emit_routes(n_topics: int, codes_per_topic: int):
    """The route table: ``[(topic, event_name or None, emits_follow_up)]``
    plus each topic's code list. Every topic routes all but one of its
    codes, every fourth topic also has a catch-all route, and every fifth
    routed code emits a follow-up. The table does not depend on the seed:
    the seed varies the traffic, not the amount of work per event."""
    topics = emit_topics(n_topics)
    topic_codes = {
        t: [EVENT_NAMES[(i + j) % len(EVENT_NAMES)] for j in range(codes_per_topic)]
        for i, t in enumerate(topics)
    }
    routes = []
    for i, t in enumerate(topics):
        for j, code in enumerate(topic_codes[t][:-1]):
            routes.append((t, code, (i + j) % 5 == 0))
        if i % 4 == 0:
            routes.append((t, None, False))
    routes.append((FOLLOW_UP_TOPIC, None, False))
    return routes, topic_codes


def _small_event(rng: random.Random, i: int) -> dict:
    ev = {
        "id": i,
        "user": f"user-{rng.randrange(100_000)}",
        "amount": round(rng.uniform(1, 5000), 2),
        "currency": rng.choice(["USD", "CLP", "BRL", "MXN"]),
        "ok": rng.random() < 0.9,
        "tags": [rng.choice("abcdefgh") for _ in range(rng.randrange(4))],
    }
    if rng.random() < 0.05:
        ev["createdAt"] = "2024-01-02 03:04:05Z"
    return ev


LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident"
).split()
FIRST = ["Hester", "Alvarez", "Dora", "Mccarty", "Leila", "Santos", "Marva",
         "Boyer", "Tia", "Golden", "Rowe", "Beard", "Lula", "Hinton"]
STREETS = ["Vanderbilt Avenue", "Hemlock Street", "Dumont Avenue",
           "Kingsland Avenue", "Baycliff Terrace", "Sunnyside Court"]
FRUITS = ["apple", "banana", "strawberry"]
LARGE_RECORDS = 216  # the fixture's record count
LARGE_POOL = 8  # distinct record lists the large events draw from


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(LOREM) for _ in range(rng.randint(lo, hi)))


def _person(rng: random.Random, i: int) -> dict:
    """One record of the reference's ``src/local-tests/data.ts`` fixture:
    the field set, types and string shapes of FIXTURES.md section 1.4."""
    name = f"{rng.choice(FIRST)} {rng.choice(FIRST)}"
    company = rng.choice(FIRST).upper() + rng.choice(["CORP", "TECH", "ZONE"])
    offset = rng.choice(["+03:00", "+05:00", "-02:00", "+06:00"])
    about = " ".join(_words(rng, 6, 14).capitalize() + "." for _ in range(rng.randint(4, 7)))
    return {
        "_id": "%024x" % rng.getrandbits(96),
        "index": i,
        "guid": "%08x-%04x-%04x-%04x-%012x" % (
            rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(16),
            rng.getrandbits(16), rng.getrandbits(48)),
        "isActive": rng.random() < 0.5,
        "balance": f"${rng.randint(1000, 3999):,}.{rng.randint(0, 99):02d}",
        "picture": "http://placehold.it/32x32",
        "age": rng.randint(20, 40),
        "eyeColor": rng.choice(["blue", "brown", "green"]),
        "name": name,
        "gender": rng.choice(["female", "male"]),
        "company": company,
        "email": f"{name.split()[0].lower()}{name.split()[1].lower()}@{company.lower()}.com",
        "phone": f"+1 ({rng.randint(800, 999)}) {rng.randint(400, 599)}-{rng.randint(2000, 3999)}",
        "address": f"{rng.randint(100, 999)} {rng.choice(STREETS)}, "
                   f"{rng.choice(FIRST)}, {rng.choice(['Iowa', 'Utah', 'Ohio'])}, "
                   f"{rng.randint(1000, 9999)}",
        "about": about + "\r\n",
        "registered": f"20{rng.randint(14, 22)}-{rng.randint(1, 12):02d}-"
                      f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
                      f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d} {offset}",
        "latitude": round(rng.uniform(-90, 90), 6),
        "longitude": round(rng.uniform(-180, 180), 6),
        "tags": [rng.choice(LOREM) for _ in range(7)],
        "friends": [{"id": k, "name": f"{rng.choice(FIRST)} {rng.choice(FIRST)}"}
                    for k in range(3)],
        "greeting": f"Hello, {name}! You have {rng.randint(1, 10)} unread messages.",
        "favoriteFruit": rng.choice(FRUITS),
    }


def large_pool(seed: int) -> list[list[dict]]:
    """``LARGE_POOL`` seeded lists of ``LARGE_RECORDS`` person records; the
    large events share them, so the inputs stay small in memory."""
    rng = random.Random(seed * 7 + 3)
    return [[_person(rng, i) for i in range(LARGE_RECORDS)] for _ in range(LARGE_POOL)]


def emit_ops(seed: int, n_ops: int, n_topics: int, topic_codes: dict,
             block: int):
    """``n_ops`` emit calls: ``(topic, event_name, data)``. Every ``block``
    consecutive ops hold exact shares, in a seeded order: ``SMALL_SHARE``
    one small flat event, ``LARGE_SHARE`` one large event carrying a
    216-record list, the rest a fan-out list of 2-16 small events. A block
    depends only on the seed and the blocks before it, so the first block
    is the same for every ``n_ops``."""
    rng = random.Random(seed * 7 + 2)
    topics = emit_topics(n_topics)
    pool = large_pool(seed)
    # skewed topic popularity, as real services are
    weights = [1.0 / (k + 1) for k in range(n_topics)]
    ops = []
    for first in range(0, n_ops, block):
        n = min(block, n_ops - first)
        # exact shares per block: the mix, not the seed, sets a block's cost
        n_large = int(n * LARGE_SHARE)
        n_fan = n - n_large - int(n * SMALL_SHARE)
        kinds = ["large"] * n_large + ["fan"] * n_fan
        kinds += ["small"] * (n - len(kinds))
        rng.shuffle(kinds)
        fan_sizes = [2 + k % 15 for k in range(n_fan)]  # 2..16, mean about 9
        rng.shuffle(fan_sizes)
        for i, kind in enumerate(kinds, start=first):
            topic = rng.choices(topics, weights)[0]
            name = rng.choice(topic_codes[topic])
            if kind == "small":
                data = _small_event(rng, i)
            elif kind == "large":
                data = {"id": i, "batch": f"b-{rng.randrange(10_000)}",
                        "records": pool[i % len(pool)]}
            else:
                data = [_small_event(rng, i) for _ in range(fan_sizes.pop())]
            ops.append((topic, name, data))
    return ops


# -- analytics: the stream drain stage ----------------------------------------

ROUTE_CODES = ["OrderCreated", "OrderPaid", "QuoteRequested", "PolicyIssued"]
ROUTE_SCHEMA = "id bigint, code string, appName string, createdAt string"


def stream_topics(n_topics: int) -> list[str]:
    return [f"topic-{i}" for i in range(n_topics)]


def stream_routes(n_topics: int):
    """``[(topic, code or None)]``: each topic routes three codes; even
    topics add a catch-all, so one event can match two routes."""
    routes = []
    for i, t in enumerate(stream_topics(n_topics)):
        for code in ROUTE_CODES[:3]:
            routes.append((t, code))
        if i % 2 == 0:
            routes.append((t, None))
    return routes


def route_lines(rng: random.Random, first_id: int, n: int, n_topics: int,
                corrupt_share: float):
    """JSON lines ``{"topic", "value"}``; returns (lines, corrupt ids).
    Topics are Zipf-skewed; a share of values is corrupt (reference A3):
    truncated JSON, not JSON, or JSON that is not an object."""
    topics = stream_topics(n_topics)
    weights = [1.0 / (k + 1) for k in range(n_topics)]
    picks = rng.choices(topics, weights, k=n)
    lines, corrupt = [], []
    for j in range(n):
        eid = first_id + j
        if rng.random() < corrupt_share:
            value = rng.choice(['{"id": %d, "code": ' % eid, "not json", "[1, 2]"])
            corrupt.append(eid)
        else:
            value = json.dumps({
                "id": eid,
                "code": rng.choice(ROUTE_CODES),
                "appName": "bench",
                "createdAt": "2024-01-01 00:00:00Z",
            })
        lines.append(json.dumps({"topic": picks[j], "value": value}))
    return lines, corrupt


def write_backlog(seed: int, dir_: str, n_files: int, file_events: int,
                  n_topics: int, corrupt_share: float, first_id: int = 0):
    """``n_files`` JSON-lines files of ``file_events`` events each in
    ``dir_``; returns ``(lines, corrupt ids)`` over all of them."""
    rng = random.Random(seed * 7 + 4 + first_id)
    os.makedirs(dir_, exist_ok=True)
    all_lines, all_corrupt = [], []
    for k in range(n_files):
        lines, bad = route_lines(rng, first_id + k * file_events, file_events,
                                 n_topics, corrupt_share)
        with open(os.path.join(dir_, f"part-{k:05d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        all_lines += lines
        all_corrupt += bad
    return all_lines, all_corrupt


EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


# -- analytics tables --------------------------------------------------------

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window order data column join small customer query big filter "
    "group stream vector"
).split()


def write_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """TPC-H-shaped tables plus events, documents and embeddings, with
    the column names and types the registry queries read. ``scale`` 1.0
    is 60,000 lineitems. Returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rs = np.random.default_rng(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_line = n_ord * 4
    n_ev = max(500, int(10000 * scale))
    n_doc = 500  # the fixtures hold 500 documents at every scale
    n_vec = max(100, int(500 * scale))

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(n, lo, hi):
        return np.round(rs.uniform(lo, hi, n), 2)

    def days(n, start, span):
        base = np.datetime64(start, "D")
        return (base + rs.integers(0, span, n)).astype("datetime64[us]")

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rs.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    })
    colors = ["red", "blue", "green", "small", "large", "steel"]
    things = ["widget", "bolt", "ring", "gear", "pipe"]
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{colors[a]} {things[b]}" for a, b in zip(
            rs.integers(0, len(colors), n_part), rs.integers(0, len(things), n_part))],
        "p_brand": [f"Brand#{b}" for b in rs.integers(1, 26, n_part)],
        "p_type": rs.choice(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "STANDARD",
                             "PROMO"], n_part),
        "p_size": pa.array(rs.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rs.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(n_ord, 1000, 500000),
        "o_orderdate": days(n_ord, "1995-01-01", 2400),
        "o_orderpriority": rs.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    okeys = rs.integers(0, n_ord, n_line)
    put("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rs.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rs.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(n_line, 900, 100000),
        "l_discount": rs.integers(0, 11, n_line) / 100.0,
        "l_tax": rs.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rs.choice(["A", "N", "R"], n_line),
        "l_linestatus": rs.choice(["O", "F"], n_line),
        "l_shipdate": days(n_line, "1995-01-02", 2500),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rs.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(rs.zipf(1.3, n_ev) % max(20, n_ev // 60), pa.int64()),
        "event_type": rs.choice(EVENT_TYPES, n_ev),
        "value": np.round(rs.exponential(50, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rs.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rs.random() < 0.08:
            texts.append(texts[int(rs.integers(0, i))])  # exact duplicate
            continue
        words = list(rs.choice(WORDS, int(rs.integers(8, 80))))
        if i > 10 and rs.random() < 0.1:  # near duplicate: one word swapped
            words = texts[int(rs.integers(0, i))].split()
            words[int(rs.integers(0, len(words)))] = str(rs.choice(WORDS))
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rs.choice(["en", "en", "en", "de", "es"], n_doc),
        "source": [f"src{s}" for s in rs.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rs.normal(0, 0.2, (10, 64))
    labels = rs.integers(0, 10, n_vec)
    vecs = (centers[labels] + rs.normal(0, 0.05, (n_vec, 64))).astype("float32")
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev,
            "documents": n_doc, "embeddings": n_vec, "customer": n_cust,
            "part": n_part, "supplier": n_supp}


