"""Seeded input generators for the lakebench workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, and the same rows encode to the same parquet bytes. The engine
under test only ever sees the generated tables; the expected state each
generator tracks (``OrdersModel``, the planted pairs of ``corpus_batch``)
stays here and feeds the output checks.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# lake_upsert: TPC-H-shaped orders and a Zipf-skewed change stream
# ---------------------------------------------------------------------------

ORDER_STATUSES = ("F", "O", "P")
ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_DAY0 = dt.date(1992, 1, 1)
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date span
ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.date32()),
        ("o_orderpriority", pa.string()),
        ("o_shippriority", pa.int32()),
    ]
)


def _order_frame(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    days = rng.integers(0, ORDER_DAYS, n)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, 15_001, n).astype(np.int64),
            "o_orderstatus": np.array(ORDER_STATUSES)[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
            "o_orderdate": [ORDER_DAY0 + dt.timedelta(days=int(d)) for d in days],
            "o_orderpriority": np.array(ORDER_PRIORITIES)[rng.integers(0, 5, n)],
            "o_shippriority": np.zeros(n, dtype=np.int32),
        }
    )


def orders_table(frame: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(frame, schema=ORDERS_SCHEMA, preserve_index=False)


def orders(seed: int, n: int) -> pd.DataFrame:
    """The initial orders table: keys 1..n, uniform attributes."""
    rng = np.random.default_rng([seed, 1])
    return _order_frame(rng, np.arange(1, n + 1))


class OrderStream:
    """Change batches and delete ranges against ``orders(seed, n)``.

    A merge batch holds ``batch`` distinct keys: ``update_share`` of them
    drawn without replacement from the initial keys with Zipf(``zipf_a``)
    weights over a seeded rank order (hot orders are re-touched often),
    the rest fresh keys past the current maximum. A delete range is a run
    of ``delete_width`` consecutive keys at a uniform position."""

    def __init__(
        self,
        seed: int,
        n: int,
        batch: int = 500,
        update_share: float = 0.7,
        zipf_a: float = 1.1,
        delete_width: int = 200,
    ):
        self.rng = np.random.default_rng([seed, 2])
        self.n = n
        self.batch = batch
        self.n_update = int(round(batch * update_share))
        self.delete_width = delete_width
        self.next_key = n + 1
        rank_of = self.rng.permutation(n)  # key i+1 has Zipf rank rank_of[i]+1
        w = 1.0 / np.power(rank_of + 1.0, zipf_a)
        self.p = w / w.sum()

    def merge_batch(self) -> pd.DataFrame:
        upd = self.rng.choice(self.n, size=self.n_update, replace=False, p=self.p) + 1
        n_new = self.batch - self.n_update
        new = np.arange(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        keys = np.sort(np.concatenate([upd, new]))
        return _order_frame(self.rng, keys)

    def delete_range(self) -> tuple[int, int]:
        lo = int(self.rng.integers(1, self.next_key - self.delete_width))
        return lo, lo + self.delete_width - 1

    def lookup_key(self) -> int:
        return int(self.rng.integers(1, self.next_key))

    def date_window(self, days: int = 90) -> tuple[dt.date, dt.date]:
        d = int(self.rng.integers(0, ORDER_DAYS - days))
        lo = ORDER_DAY0 + dt.timedelta(days=d)
        return lo, lo + dt.timedelta(days=days - 1)


@dataclass
class OrdersModel:
    """The table state the generator expects after each commit."""

    rows: pd.DataFrame
    counts: dict[int, int] = field(default_factory=dict)  # version -> row count
    deleted: set[int] = field(default_factory=set)

    def __post_init__(self) -> None:
        self.rows = self.rows.set_index("o_orderkey", drop=False)

    def merge(self, batch: pd.DataFrame) -> None:
        keys = batch["o_orderkey"].to_numpy()
        kept = self.rows[~self.rows.index.isin(keys)]
        self.rows = pd.concat([kept, batch.set_index("o_orderkey", drop=False)])
        self.deleted.difference_update(int(k) for k in keys)

    def delete(self, lo: int, hi: int) -> int:
        hit = (self.rows.index >= lo) & (self.rows.index <= hi)
        self.deleted.update(int(k) for k in self.rows.index[hit])
        self.rows = self.rows[~hit]
        return int(hit.sum())

    def commit(self, version: int) -> None:
        self.counts[version] = len(self.rows)

    def price_by_status(self) -> dict[str, float]:
        return self.rows.groupby("o_orderstatus")["o_totalprice"].sum().to_dict()

    def window(self, lo: dt.date, hi: dt.date) -> tuple[int, float]:
        d = self.rows["o_orderdate"]
        sel = self.rows[(d >= lo) & (d <= hi)]
        return len(sel), float(sel["o_totalprice"].sum())


# ---------------------------------------------------------------------------
# daily_refresh (medallion part): raw Chợ Tốt-shaped bronze batches
# ---------------------------------------------------------------------------

BRONZE_SCHEMA = pa.schema(
    [
        ("list_id", pa.string()),
        ("title", pa.string()),
        ("price", pa.string()),
        ("address", pa.string()),
        ("area_raw", pa.string()),
        ("bedrooms_raw", pa.string()),
        ("bathrooms_raw", pa.string()),
        ("legal_status_raw", pa.string()),
        ("ward_raw", pa.string()),
        ("district_raw", pa.string()),
        ("province_raw", pa.string()),
        ("mtime", pa.string()),
        ("file_modification_time", pa.timestamp("us")),
    ]
)

_PROVINCES = {
    "Hồ Chí Minh": ["quận 1", "quận 3", "bình thạnh", "thủ đức", "gò vấp"],
    "Hà Nội": ["hoàn kiếm", "cầu giấy", "đống đa", "hà đông"],
    "Đà Nẵng": ["liên chiểu", "hải châu", "sơn trà"],
    "Bình Dương": ["thủ dầu một", "dĩ an"],
    "Cần Thơ": ["ninh kiều", "cái răng"],
    "Long An": ["tân an", "bến lức"],
}
_STREETS = ["lê lợi", "nguyễn huệ", "trần hưng đạo", "hai bà trưng", "lý thường kiệt",
            "điện biên phủ", "võ văn kiệt", "cách mạng tháng tám", "phan đình phùng"]
_WARDS = ["phường bến thành", "hàng bài", "phường 7", "tân định", "phường an phú", None]
_LEGAL = ["Sổ đỏ", "Sổ hồng riêng", "sổ hồng", "Đang chờ sổ", "Giấy tay", "Hợp đồng mua bán", None]
_KINDS = ["Nhà phố", "Căn hộ", "Đất nền", "Biệt thự", "Nhà hẻm"]
# Listing classes; a listing keeps its class when it is re-listed, so a
# re-list moves its price, area and date but never its validity.
_CLASSES = ("valid", "no_price", "no_address", "price_outlier", "area_outlier")
_CLASS_P = (0.76, 0.08, 0.08, 0.04, 0.04)
BRONZE_DAY0 = dt.datetime(2024, 1, 1)


class BronzeStream:
    """One bronze batch per simulated day: new listings plus Zipf-skewed
    re-lists of earlier ones (``relist_share``), every row with a distinct
    modification time later than every earlier row."""

    def __init__(self, seed: int, batch_rows: int = 4000, relist_share: float = 0.25):
        self.rng = np.random.default_rng([seed, 3])
        self.batch_rows = batch_rows
        self.relist_share = relist_share
        self.day = 0
        self.listings: list[tuple[str, str, int, str | None]] = []  # id, class, loc, legal
        self.locations: list[tuple[str | None, str | None, str | None, str | None]] = []
        self._new_locations(400)

    def _new_locations(self, n: int) -> None:
        provs = list(_PROVINCES)
        for _ in range(n):
            i = len(self.locations)
            prov = provs[int(self.rng.integers(0, len(provs)))]
            dist = _PROVINCES[prov][int(self.rng.integers(0, len(_PROVINCES[prov])))]
            street = _STREETS[int(self.rng.integers(0, len(_STREETS)))]
            gap = "  " if self.rng.random() < 0.1 else " "  # whitespace collapse
            addr = f"{i + 1}{gap}{street}, {dist}"
            ward = _WARDS[int(self.rng.integers(0, len(_WARDS)))]
            self.locations.append(
                (addr, ward, dist if self.rng.random() > 0.05 else None,
                 prov if self.rng.random() > 0.03 else None)
            )

    def _new_listing(self) -> int:
        i = len(self.listings)
        cls = _CLASSES[int(self.rng.choice(len(_CLASSES), p=_CLASS_P))]
        loc = int(self.rng.integers(0, len(self.locations)))
        legal = _LEGAL[int(self.rng.integers(0, len(_LEGAL)))]
        self.listings.append((f"L{i:07d}", cls, loc, legal))
        return i

    def _price(self, cls: str) -> str | None:
        r = self.rng
        if cls == "no_price":
            return ["Thỏa thuận", "Liên hệ", None][int(r.integers(0, 3))]
        if cls == "price_outlier":
            return str(int(r.integers(1000, 9000)))
        bil = float(np.clip(r.lognormal(1.0, 0.9), 0.3, 300.0))
        if bil < 1.0:
            return f"{int(bil * 1000)} triệu"
        if r.random() < 0.1:
            return f"{bil:.1f}".replace(".", ",")  # unit-less: read as billions
        return f"{bil:.1f} tỷ".replace(".", ",")

    def _area(self, cls: str) -> str | None:
        r = self.rng
        if cls == "area_outlier":
            return str(int(r.integers(10_000, 90_000)))
        if r.random() < 0.05:
            return None
        a = float(r.uniform(25.0, 400.0))
        return [f"{a:.1f} m²".replace(".", ","), f"{int(a)}", f"{a:.1f}".replace(".", ",")][
            int(r.integers(0, 3))
        ]

    def next_batch(self) -> pa.Table:
        r = self.rng
        n = self.batch_rows
        n_old = min(int(n * self.relist_share), len(self.listings))
        if n_old:
            w = 1.0 / np.power(np.arange(1, len(self.listings) + 1), 1.1)
            old = r.choice(len(self.listings), size=n_old, p=w / w.sum())
        else:
            old = np.zeros(0, dtype=np.int64)
        new = [self._new_listing() for _ in range(n - n_old)]
        idx = np.concatenate([old, np.array(new, dtype=np.int64)])
        r.shuffle(idx)
        day = BRONZE_DAY0 + dt.timedelta(days=self.day)
        self.day += 1
        rows = []
        for j, li in enumerate(idx):
            lid, cls, loc, legal = self.listings[int(li)]
            addr, ward, dist, prov = self.locations[loc]
            if cls == "no_address":
                addr = None if r.random() < 0.5 else "   "
            mtime = day + dt.timedelta(seconds=20 * j + int(r.integers(0, 20)))
            bed = [str(int(r.integers(1, 6))), f"{int(r.integers(1, 6))} phòng", None][
                int(r.integers(0, 3))
            ]
            bath = [str(int(r.integers(1, 4))), None][int(r.integers(0, 2))]
            kind = _KINDS[int(r.integers(0, len(_KINDS)))]
            rows.append(
                (lid, f"{kind} {lid[-4:]}", self._price(cls), addr, self._area(cls),
                 bed, bath, legal, ward, dist, prov,
                 mtime.strftime("%Y-%m-%d %H:%M:%S"), mtime)
            )
        cols = list(zip(*rows))
        return pa.table(
            {f.name: pa.array(c, f.type) for f, c in zip(BRONZE_SCHEMA, cols)},
            schema=BRONZE_SCHEMA,
        )


# ---------------------------------------------------------------------------
# daily_refresh (corpus part): documents with planted exact and near duplicates, embeddings
# with planted near-twins
# ---------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu",
              "ba", "fe", "hi", "jo", "qu", "we", "xi", "yo"]
VOCAB = [a + b + c for a in _SYLLABLES[:10] for b in _SYLLABLES[10:] for c in ("", "n", "r")]
SHINGLE_K = 3
NEAR_JACCARD = 0.8
TWIN_COSINE = 0.98
EMBED_DIM = 32
N_CELLS = 32


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """Distinct word k-shingles (documents are lowercase single-spaced
    words, so a split is the engine's tokenizer)."""
    t = text.split()
    if len(t) < k:
        return {" ".join(t)}
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


@dataclass
class CorpusBatch:
    docs: pa.Table  # doc_id int64, text string
    emb: pa.Table  # vec_id int64, embedding list<double>
    exact_groups: list[list[int]]  # doc ids that share one text
    near_pairs: list[tuple[int, int]]  # (source, edited copy), Jaccard >= NEAR_JACCARD
    twin_pairs: list[tuple[int, int]]  # (source, jittered copy), cosine >= TWIN_COSINE


def corpus_batch(
    seed: int,
    batch: int,
    n_docs: int = 5000,
    n_vecs: int = 2000,
    exact_share: float = 0.05,
    near_share: float = 0.05,
    twin_share: float = 0.1,
) -> CorpusBatch:
    """Batch ``batch`` (from -1) of the corpus stream; ids are offset by
    batch so batches never share an id."""
    rng = np.random.default_rng([seed, 4, batch + 1])
    base_id = (batch + 1) * 1_000_000
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(40, 90)))])
        for _ in range(n_base)
    ]
    # exact copies and near-duplicates come from disjoint source documents,
    # so every near pair survives exact dedup under its own ids
    sources = rng.permutation(n_base)[: n_exact + n_near]
    exact_src, near_src = sources[:n_exact], sources[n_exact:]
    groups: dict[int, list[int]] = {}
    for i, s in enumerate(exact_src):
        texts.append(texts[s])
        groups.setdefault(int(s), [base_id + int(s)]).append(base_id + n_base + i)
    near_pairs = []
    for i, s in enumerate(near_src):
        toks = texts[s].split()
        while True:
            edited = list(toks)
            edited[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            cand = " ".join(edited)
            if cand != texts[s] and jaccard(texts[s], cand) >= NEAR_JACCARD:
                break
        texts.append(cand)
        near_pairs.append((base_id + int(s), base_id + n_base + n_exact + i))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(base_id, base_id + n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )

    n_twin = int(n_vecs * twin_share)
    base = rng.normal(size=(n_vecs - n_twin, EMBED_DIM))
    src = rng.choice(n_vecs - n_twin, size=n_twin, replace=False)
    twins = base[src] + rng.normal(scale=0.01, size=(n_twin, EMBED_DIM)) * np.abs(base[src])
    vecs = np.round(np.vstack([base, twins]), 6)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(base_id, base_id + n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
        }
    )
    twin_pairs = [
        (base_id + int(s), base_id + n_vecs - n_twin + i) for i, s in enumerate(src)
    ]
    return CorpusBatch(docs, emb, list(groups.values()), near_pairs, twin_pairs)


def bm25_queries(seed: int, search: int, n: int = 3) -> list[tuple[str, list[str]]]:
    rng = np.random.default_rng([seed, 5, search])
    return [
        (f"q{j}", [VOCAB[int(t)] for t in rng.choice(len(VOCAB), size=3, replace=False)])
        for j in range(n)
    ]


def knn_query_ids(seed: int, search: int, batch: CorpusBatch, n: int = 8) -> list[int]:
    rng = np.random.default_rng([seed, 6, search])
    ids = batch.emb.column("vec_id").to_numpy()
    return sorted(int(i) for i in rng.choice(ids, size=n, replace=False))


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one single-row-group parquet file; returns its size in bytes."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")
    return os.path.getsize(path)
