"""Seeded input generators for the benchmark.

Everything here is pure Python + NumPy: the same ``seed`` always yields the
same users, follow graph, posts, delivery plan and star-schema tables, and no
Spark session is needed to build (or unit-test) them.  The program under test
only ever sees the generated inputs.

Feed domain (FIXTURES.md section 1): ``users``, ``follows``, ``posts`` and the
Kafka envelope delivery plan that ``ingest_backlog`` drains.  Follower counts
per author are Zipf-skewed, so a few celebrity authors dominate the fan-out.

Star schema (FIXTURES.md section 2): the ten testdata tables with the pinned
column names and dtypes, shaped like the reference testdata (TESTDATA.md: uniform
keys, the same categorical domains and value ranges), at a row scale set by
``sf``.
"""

from __future__ import annotations

import hashlib
import uuid
from dataclasses import dataclass, field

import numpy as np

VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()

# 2024-01-01T00:00:00Z in epoch microseconds
EPOCH_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


def _uuid(rng: np.random.Generator) -> str:
    return str(uuid.UUID(bytes=rng.bytes(16), version=4))


def _bodies(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 24) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at : at + ln]))
        at += ln
    return out


def zipf_follower_counts(
    rng: np.random.Generator, n_users: int, mean: float, s: float = 1.0
) -> np.ndarray:
    """Followers per author: weight ``1/rank**s`` over a seeded permutation
    of authors, scaled to ``mean`` and clipped to ``[1, n_users - 1]``."""
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    w = ranks**-s
    counts = np.clip(np.rint(w / w.mean() * mean), 1, n_users - 1).astype(np.int64)
    return counts[rng.permutation(n_users)]


@dataclass
class FeedModel:
    """The generator's model of a feed: every id, edge and post.

    ``follows`` holds (follower_idx, author_idx) pairs; ``posts`` holds
    (post_id, author_idx, body, created_ms) with ``created_ms`` in epoch
    milliseconds (timestamps are millisecond-truncated, FIXTURES.md).
    """

    usernames: list[str]
    user_ids: list[str]
    follows: list[tuple[int, int]]
    posts: list[tuple[str, int, str, int]]
    followers_of: dict[int, list[int]] = field(default_factory=dict)

    def expected_feed_rows(self) -> int:
        return sum(len(self.followers_of.get(a, ())) for _, a, _, _ in self.posts)


def feed_model(
    seed: int, n_users: int, n_posts: int, mean_followers: float, days: int = 30
) -> FeedModel:
    rng = np.random.default_rng([seed, 1])
    user_ids = [_uuid(rng) for _ in range(n_users)]
    usernames = [f"user_{seed}_{i:06d}" for i in range(n_users)]
    counts = zipf_follower_counts(rng, n_users, mean_followers)
    follows: list[tuple[int, int]] = []
    followers_of: dict[int, list[int]] = {}
    for author, c in enumerate(counts):
        pick = rng.choice(n_users, size=int(c) + 1, replace=False)
        fol = [int(u) for u in pick if u != author][: int(c)]
        followers_of[author] = fol
        follows.extend((u, author) for u in fol)
    # every author posts equally often (up to one post), so the fan-out
    # volume is the same for every seed; who is a celebrity varies
    authors = rng.permutation(np.arange(n_posts) % n_users)
    created = np.sort(rng.integers(0, days * _DAY_US // 1000, size=n_posts))
    created = created + EPOCH_2024_US // 1000
    bodies = _bodies(rng, n_posts)
    posts = [
        (_uuid(rng), int(a), b, int(t))
        for a, b, t in zip(authors, bodies, created)
    ]
    return FeedModel(usernames, user_ids, follows, posts, followers_of)


# -- the ingest delivery plan ----------------------------------------------

JUNK_KINDS = ("empty", "malformed", "foreign_key", "missing_field", "oversize")


@dataclass
class Delivery:
    """One envelope in the backlog: ``kind`` is ``post``, ``redelivery`` or
    one of JUNK_KINDS; ``ref`` indexes ``model.posts`` for post and
    redelivery, and ``junk_posts`` for foreign_key and oversize."""

    file_idx: int
    kind: str
    ref: int


@dataclass
class DeliveryPlan:
    n_files: int
    deliveries: list[Delivery]
    junk_posts: list[tuple[str, int, str, int]]


def delivery_plan(
    seed: int,
    model: FeedModel,
    n_files: int,
    redeliver_share: float = 0.05,
    junk_share: float = 0.01,
) -> DeliveryPlan:
    """Posts in created order, cut into ``n_files`` files; ``redeliver_share``
    of them delivered twice (half in the same file, half one to three files
    later); ``junk_share`` extra envelopes that the decoder must drop."""
    rng = np.random.default_rng([seed, 2])
    n = len(model.posts)
    file_of = (np.arange(n) * n_files) // n
    out = [Delivery(int(f), "post", i) for i, f in enumerate(file_of)]
    redo = rng.choice(n, size=int(n * redeliver_share), replace=False)
    later = rng.integers(0, 2, size=len(redo)) * rng.integers(1, 4, size=len(redo))
    for i, lag in zip(redo, later):
        out.append(
            Delivery(int(min(file_of[i] + lag, n_files - 1)), "redelivery", int(i))
        )
    n_junk = max(len(JUNK_KINDS), int(n * junk_share))
    junk_posts = []
    for j in range(n_junk):
        kind = JUNK_KINDS[j % len(JUNK_KINDS)]
        ref = -1
        if kind in ("foreign_key", "oversize"):
            author = int(rng.integers(0, len(model.user_ids)))
            body = "x" * 1001 if kind == "oversize" else _bodies(rng, 1)[0]
            ref = len(junk_posts)
            junk_posts.append(
                (_uuid(rng), author, body, EPOCH_2024_US // 1000 + j)
            )
        out.append(Delivery(int(rng.integers(0, n_files)), kind, ref))
    # stable order inside a file: by insertion, shuffled per seed
    order = rng.permutation(len(out))
    out = [out[i] for i in order]
    out.sort(key=lambda d: d.file_idx)
    return DeliveryPlan(n_files, out, junk_posts)


def junk_value(kind: str, i: int) -> bytes | None:
    """Raw value bytes for the junk kinds that are not JSON of a post."""
    if kind == "empty":
        return b""
    if kind == "malformed":
        return b'{"id": "broken-%d", "author_id": ' % i
    if kind == "missing_field":
        return b'{"id": "missing-%d", "body": "no author"}' % i
    return None


def row_digest(*fields) -> int:
    """48-bit digest of one row, summed for an order-insensitive table
    checksum; the Spark side computes the same sum over ``md5`` (see
    ``ingest.table_checksum``)."""
    s = "|".join(str(f) for f in fields)
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


# -- star schema -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = "small red blue green large tiny shiny old".split()
PART_NOUN = "ring widget bolt anvil gear nut spring valve".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_DATE_1995_US = 788_918_400_000_000


def star_schema(seed: int, sf: float) -> dict[str, dict[str, np.ndarray | list]]:
    """The ten testdata tables as column dicts (numpy arrays / lists),
    ``sf`` scaling rows as the reference testdata does (sf0.01 = 15,000
    orders, 60,000 lineitems, 10,000 events, 500 documents)."""
    rng = np.random.default_rng([seed, 3])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_doc = max(10, int(50_000 * sf))
    n_emb = max(10, int(50_000 * sf))

    def cents(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n) * 100) / 100

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": _DATE_1995_US + rng.integers(0, 2405, n_ord) * _DAY_US,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line) * 100)
        / 100,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _DATE_1995_US + rng.integers(1, 2500, n_line) * _DAY_US,
    }
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + EPOCH_2024_US
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) * 100) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = _bodies(rng, n_doc, 10, 100)
    # plant exact and near duplicates for the dedup operators
    n_dup = max(2, n_doc // 50)
    src = rng.choice(n_doc, size=n_dup, replace=False)
    dst = rng.choice(n_doc, size=n_dup, replace=False)
    for k, (a, b) in enumerate(zip(src, dst)):
        if a == b:
            continue
        words = texts[a].split()
        if k % 2:
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[b] = " ".join(words)
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, size=n_doc, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": vec.astype(np.float32),
        "label": labels,
    }
    return t


def write_star_schema(seed: int, sf: float, out_dir: str) -> None:
    """Write the star schema as one parquet file per table
    (``<out_dir>/<table>.parquet``), the reference testdata layout."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in star_schema(seed, sf).items():
        arrays = {}
        for c, v in cols.items():
            if c in ("o_orderdate", "l_shipdate", "ts"):
                arrays[c] = pa.array(v, type=pa.timestamp("us"))
            elif c == "embedding":
                arrays[c] = pa.FixedSizeListArray.from_arrays(
                    pa.array(v.reshape(-1)), v.shape[1]
                ).cast(pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
