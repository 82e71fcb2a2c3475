"""Seeded input generator for the benchmark workloads.

Everything the program reads is made here from a seed, with numpy, and
written as parquet in the schemas of the engine's TPC-H-shaped raw
tables (coin = part, wallet = customer, price = weighted unit price,
transfer = lineitem joined to its order). Sizes are constants: a seed
moves values and key labels, never row counts.

Keys are relabelled through permutations that keep every foreign key
consistent: coins, wallets and orders once for the fixed history,
documents per seed, so a seed changes which doc is the lowest id of a
duplicate family.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

# A 90-day slice of the TPC-H sf0.1 shape the engine's tests and
# oracles use: sf0.1 holds 20,000 parts, 15,000 customers, 1,000
# suppliers and 150,000 orders, and ships about 240 lineitems a day,
# spread uniformly over its parts, across 2,499 days. The history keeps
# the dimension tables whole and cuts the facts to 90 days x 240
# lineitems, with that window's share of the orders (150,000 x 90 /
# 2,499). A one-year slice was measured too long for the benchmark's
# time budget (see README.md).
N_COINS = 20000
N_WALLETS = 15000
N_SUPPLIERS = 1000
N_ORDERS = 5400
HISTORY_DAYS = 90
HISTORY_START = dt.date(2024, 1, 1)
ROWS_PER_DAY = 240
ARRIVAL_ROWS = ROWS_PER_DAY  # one day of arrivals on top of the history
QTY_MAX = 50  # sf0.1's l_quantity is uniform on 1..50
# Request popularity: Zipf's law with the classic exponent 1 over the
# traded coins, in a seeded order (activity is uniform, so popularity
# is independent of chart size).
REQUEST_ZIPF = 1.0
# Whale thresholds in tokens: the median, p75 and p90 of one lineitem's
# quantity, so a wallet that received one large transfer is a whale.
WHALE_TOKENS = (25.0, 38.0, 45.0)

# The standing warehouse's history is one fixed corpus, so it can be
# built once per code version; the seed drives the arrival day, the request
# stream and the document corpus.
HISTORY_SEED = 1

N_DOCS = 800
CORPUS_LANGS = ("en", "de", "fr", "es", "zh")
CORPUS_LANG_WEIGHTS = (0.55, 0.12, 0.12, 0.11, 0.10)
STOPWORDS = ("the", "a", "of", "to", "and", "data", "row", "value")
BOILERPLATE = (
    "subscribe to the data newsletter and follow a value feed of the row "
    "updates every day"
)  # 16 tokens = two 8-token chunks

NATIONS = (
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
COLORS = ("red", "blue", "hot", "cold", "large", "small", "dark", "pale")
THINGS = ("ring", "bolt", "gear", "pipe", "nut", "plate", "valve", "rod")
TYPES = ("LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM")

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def _write(path: str, columns: dict, schema: pa.Schema | None = None) -> None:
    table = pa.table(columns, schema=schema)
    pq.write_table(table, path)


def _zipf_weights(n: int, s: float) -> np.ndarray:
    """Probabilities of ranks 1..n under Zipf's law with exponent s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ------------------------------------------------------------ warehouse


class History:
    """The fixed raw history: key permutations and the per-coin list
    prices that arrivals reuse."""

    def __init__(self) -> None:
        rng = np.random.default_rng(HISTORY_SEED)
        self.coin_ids = rng.permutation(N_COINS).astype(np.int64)
        self.wallet_ids = rng.permutation(N_WALLETS).astype(np.int64) + 1
        self.order_ids = (rng.permutation(N_ORDERS).astype(np.int64) + 1) * 4
        # sf0.1's p_retailprice lies in [900, 999.9]
        self.retail = np.round(900.0 + rng.integers(0, 1000, N_COINS) / 10.0, 2)
        self.order_wallet = self.wallet_ids[rng.integers(0, N_WALLETS, N_ORDERS)]
        self.rng = rng

    def lineitems(self, rng: np.random.Generator, days: list[dt.date], per_day: int) -> dict:
        n = len(days) * per_day
        ranks = rng.integers(0, N_COINS, n)
        qty = rng.integers(1, QTY_MAX + 1, n).astype(np.float64)
        price = np.round(qty * self.retail[ranks] * rng.uniform(0.8, 1.2, n), 2)
        ship = np.repeat(np.array(days, dtype="datetime64[us]"), per_day)
        return {
            "l_orderkey": self.order_ids[rng.integers(0, N_ORDERS, n)],
            "l_partkey": self.coin_ids[ranks],
            "l_suppkey": rng.integers(0, N_SUPPLIERS, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["R", "N", "A"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": ship,
        }


def history_days() -> list[dt.date]:
    return [HISTORY_START + dt.timedelta(days=i) for i in range(HISTORY_DAYS)]


def arrival_day() -> dt.date:
    return HISTORY_START + dt.timedelta(days=HISTORY_DAYS)


def write_history(raw_dir: str) -> None:
    """The raw star schema for the standing warehouse. `lineitem.parquet`
    is a directory so an arrival day can be added as one more file."""
    h = History()
    rng = h.rng
    os.makedirs(os.path.join(raw_dir, "lineitem.parquet"), exist_ok=True)
    _write(
        os.path.join(raw_dir, "lineitem.parquet", "part-000-history.parquet"),
        h.lineitems(rng, history_days(), ROWS_PER_DAY),
        LINEITEM_SCHEMA,
    )
    _write(os.path.join(raw_dir, "region.parquet"), {
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(os.path.join(raw_dir, "nation.parquet"), {
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    _write(os.path.join(raw_dir, "part.parquet"), {
        "p_partkey": h.coin_ids,
        "p_name": [f"{COLORS[i % 8]} {THINGS[(i // 8) % 8]}" for i in rng.integers(0, 64, N_COINS)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(10, 56, N_COINS)],
        "p_type": [TYPES[t] for t in rng.integers(0, len(TYPES), N_COINS)],
        "p_size": pa.array(rng.integers(1, 51, N_COINS), pa.int32()),
        "p_retailprice": h.retail,
    })
    _write(os.path.join(raw_dir, "customer.parquet"), {
        "c_custkey": h.wallet_ids,
        "c_name": [f"Customer#{k:09d}" for k in h.wallet_ids],
        "c_nationkey": pa.array(rng.integers(0, 25, N_WALLETS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_WALLETS), 2),
        "c_mktsegment": [("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")[i]
                         for i in rng.integers(0, 5, N_WALLETS)],
    })
    _write(os.path.join(raw_dir, "supplier.parquet"), {
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2),
    })
    odays = rng.integers(0, HISTORY_DAYS, N_ORDERS)
    _write(os.path.join(raw_dir, "orders.parquet"), {
        "o_orderkey": h.order_ids,
        "o_custkey": h.order_wallet,
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 400000, N_ORDERS), 2),
        "o_orderdate": np.array(history_days(), dtype="datetime64[us]")[odays],
        "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM"]), N_ORDERS),
    })


def write_arrivals(raw_dir: str, seed: int) -> int:
    """Append one seeded day of lineitem arrivals (the day after the
    history) to `raw_dir`. Returns the number of distinct coins the
    day touches — the coin count an increment must report affected."""
    h = History()
    rng = np.random.default_rng([seed, 1])
    cols = h.lineitems(rng, [arrival_day()], ARRIVAL_ROWS)
    _write(
        os.path.join(raw_dir, "lineitem.parquet", "part-001-arrivals.parquet"),
        cols,
        LINEITEM_SCHEMA,
    )
    return int(len(np.unique(cols["l_partkey"])))


def request_stream(seed: int, n: int) -> list[tuple[int, float]]:
    """Whale-chart requests: (coin_id, whale threshold in tokens). Coins
    are drawn with Zipf popularity over the coins the history traded,
    ranked in a seeded order, so repeats are common; the seed drives
    the ranking and the sequence."""
    h = History()
    traded = np.unique(h.lineitems(h.rng, history_days(), ROWS_PER_DAY)["l_partkey"])
    rng = np.random.default_rng([seed, 2])
    ranked = traded[rng.permutation(len(traded))]
    picks = rng.choice(len(ranked), size=n, p=_zipf_weights(len(ranked), REQUEST_ZIPF))
    tokens = rng.choice(np.array(WHALE_TOKENS), size=n)
    return [(int(ranked[i]), float(t)) for i, t in zip(picks, tokens)]


def coin_list_prices() -> dict[int, float]:
    h = History()
    return {int(c): float(p) for c, p in zip(h.coin_ids, h.retail)}


# --------------------------------------------------------------- corpus


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    syll = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "qu", "de")
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), k)))
    return sorted(words)


class Corpus:
    """Generated documents plus what the preparation pipeline must find
    in them: which docs fail the quality gate, which texts repeat
    exactly, which docs form near-duplicate families, which doc is pure
    boilerplate."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 3])
        vocab = _vocab(rng, 3000)
        ids = rng.permutation(N_DOCS).astype(np.int64) * 7 + 11
        texts: list[str] = []
        family: list[int] = []  # -1: not in any family (bad docs)
        good: list[bool] = []

        def body(n_words: int) -> list[str]:
            words = [vocab[int(i)] for i in rng.integers(0, len(vocab), n_words)]
            for pos in rng.choice(n_words, size=max(2, n_words // 12), replace=False):
                words[int(pos)] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
            return words

        n_fam = 0
        while len(texts) < N_DOCS - 40:
            kind = rng.random()
            # base lengths are multiples of 8 so appended boilerplate
            # sits on the 8-token chunk grid
            base = body(8 * int(rng.integers(5, 12)))
            if rng.random() < 0.3:
                base = base + BOILERPLATE.split(" ")
            texts.append(" ".join(base))
            family.append(n_fam)
            good.append(True)
            if kind < 0.12:  # exact copies
                for _ in range(int(rng.integers(1, 3))):
                    texts.append(texts[-1])
                    family.append(n_fam)
                    good.append(True)
            elif kind < 0.30:
                # one near duplicate: two word edits outside the
                # boilerplate tail. One variant per family keeps an
                # edited chunk unique to each member, so no member is
                # emptied by chunk dedup even when LSH misses the pair.
                variant = list(base)
                for pos in rng.choice(len(variant) - 16, size=2, replace=False):
                    variant[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
                texts.append(" ".join(variant))
                family.append(n_fam)
                good.append(True)
            n_fam += 1
        # pure-boilerplate docs: pass the gate, one survives exact dedup,
        # and chunk dedup empties it
        for _ in range(3):
            texts.append(BOILERPLATE)
            family.append(n_fam)
            good.append(True)
        n_fam += 1
        while len(texts) < N_DOCS:  # quality-gate rejects
            r = len(texts) % 3
            if r == 0:
                bad = ["tiny", "doc"]  # too few tokens
            elif r == 1:
                bad = [vocab[int(i)] for i in rng.integers(0, len(vocab), 60)]  # no stopwords
            else:
                bad = ["the"] + ["x" * 20] * 30  # tokens too long
            texts.append(" ".join(bad))
            family.append(-1)
            good.append(False)

        self.ids = ids
        self.texts = texts
        self.family = family
        self.good = good
        self.langs = [
            CORPUS_LANGS[int(i)]
            for i in rng.choice(len(CORPUS_LANGS), size=N_DOCS, p=CORPUS_LANG_WEIGHTS)
        ]
        self.sources = [f"src{int(i)}" for i in rng.integers(0, 20, N_DOCS)]

    def write(self, raw_dir: str) -> None:
        os.makedirs(raw_dir, exist_ok=True)
        _write(os.path.join(raw_dir, "documents.parquet"), {
            "doc_id": self.ids,
            "text": self.texts,
            "lang": self.langs,
            "source": self.sources,
            "n_chars": np.array([len(t) for t in self.texts], dtype=np.int64),
        })

    def expected(self) -> dict:
        """Stage facts that hold whatever LSH finds: exact counts for the
        deterministic stages, the number of duplicate families left after
        exact dedup (near-dup canonicalisation keeps at least one doc per
        family and merges no two families) and the ids that may survive."""
        first_by_text: dict[str, int] = {}
        for i, t, g in sorted(zip(self.ids, self.texts, self.good)):
            if g and t not in first_by_text:
                first_by_text[t] = int(i)
        exact_ids = set(first_by_text.values())
        fam_of = dict(zip((int(i) for i in self.ids), self.family))
        return {
            "raw": N_DOCS,
            "quality_gate": int(sum(self.good)),
            "exact_dedup": len(exact_ids),
            "exact_ids": exact_ids,
            "families": len({fam_of[i] for i in exact_ids}),
            "boilerplate_only": {i for t, i in first_by_text.items() if t == BOILERPLATE},
        }
