"""Reference answers for the output checks, computed outside the engine:
DuckDB for the medallion chain, numpy and plain Python for the corpus
operators. Each ``check_*`` returns a list of problems (empty = correct)."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import numpy as np

from gen import NEAR_JACCARD, TWIN_COSINE, jaccard

# ---------------------------------------------------------------------------
# lake_upsert: answers against the state the order stream tracks
# ---------------------------------------------------------------------------


def _rel_close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def check_order_lookup(rows: list[dict], model, key: int) -> list[str]:
    if key not in model.rows.index:
        return [] if not rows else [f"lookup {key}: got {rows}, expected no row"]
    w = model.rows.loc[key]
    ok = (len(rows) == 1 and rows[0]["o_orderstatus"] == w["o_orderstatus"]
          and _rel_close(rows[0]["o_totalprice"], w["o_totalprice"])
          and rows[0]["o_orderdate"] == w["o_orderdate"])
    return [] if ok else [f"lookup {key}: got {rows}, expected {w.to_dict()}"]


def check_order_window(n: int, total: float | None, model, lo, hi) -> list[str]:
    wn, wt = model.window(lo, hi)
    ok = n == wn and _rel_close(total or 0.0, wt)
    return [] if ok else [f"range {lo}..{hi}: got ({n}, {total}), expected ({wn}, {wt})"]


def check_time_travel(n: int, model, version: int) -> list[str]:
    w = model.counts[version]
    return [] if n == w else [f"time travel to v{version}: got {n} rows, expected {w}"]


def check_orders_final(by_status: dict[str, tuple[int, float]], deleted_present: int,
                       model) -> list[str]:
    """Final snapshot: row count and sum(o_totalprice) per status, and no
    deleted key present."""
    counts = model.rows.groupby("o_orderstatus").size().to_dict()
    sums = model.price_by_status()
    bad = [] if set(by_status) == set(counts) else [
        f"statuses {sorted(by_status)}, expected {sorted(counts)}"]
    bad += [f"status {s}: got {by_status[s]}, expected ({counts[s]}, {sums[s]})"
            for s in counts if s in by_status
            and (by_status[s][0] != counts[s] or not _rel_close(by_status[s][1], sums[s]))]
    if deleted_present:
        bad.append(f"{deleted_present} deleted keys still present")
    return bad


# ---------------------------------------------------------------------------
# daily_refresh (medallion part): one-shot DuckDB chain over every bronze batch so far
# ---------------------------------------------------------------------------

# DuckDB spellings of the silver model's Spark built-ins: initcap over
# collapsed whitespace, first numeric token with a decimal comma, and the
# first digit run.
_INITCAP = ("array_to_string([upper(w[1]) || lower(w[2:]) for w in "
            "string_split(trim(regexp_replace({c}, '\\s+', ' ', 'g')), ' ')], ' ')")
_NUM = "try_cast(replace(regexp_extract({c}, '([0-9,.]+)', 1), ',', '.') AS double)"
_INT = "try_cast(regexp_extract({c}, '([0-9]+)', 1) AS int)"

_ORACLE = f"""
WITH latest AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY list_id
                                     ORDER BY file_modification_time DESC) AS rn
        FROM bronze
    ) WHERE rn = 1
), silver AS (
    SELECT list_id AS property_id, title,
           file_modification_time AS updated_at_ts,
           {_NUM.format(c='area_raw')} AS area,
           {_INT.format(c='bedrooms_raw')} AS bedrooms,
           {_INT.format(c='bathrooms_raw')} AS bathrooms,
           CASE WHEN lower(price) LIKE '%tỷ%' THEN {_NUM.format(c='price')}
                WHEN lower(price) LIKE '%triệu%' THEN {_NUM.format(c='price')} / 1000
                WHEN lower(price) LIKE '%thỏa thuận%' OR lower(price) LIKE '%liên hệ%' THEN NULL
                ELSE {_NUM.format(c='price')} END AS price_in_billions,
           CASE WHEN address IS NULL THEN NULL ELSE {_INITCAP.format(c='address')} END AS address,
           coalesce(CASE WHEN province_raw IS NULL THEN NULL
                         ELSE {_INITCAP.format(c='province_raw')} END, 'Unknown') AS province,
           CASE WHEN price IS NULL OR lower(price) LIKE '%thỏa thuận%'
                     OR lower(price) LIKE '%liên hệ%' THEN 'MISSING_PRICE'
                WHEN address IS NULL OR trim(address) = '' THEN 'MISSING_ADDRESS'
                ELSE 'VALID' END AS data_quality_flag
    FROM latest
)
SELECT property_id, province,
       cast(date_trunc('day', updated_at_ts) AS date) AS date_key,
       price_in_billions, area,
       round(price_in_billions * 1000 / area, 3) AS price_per_m2_millions,
       bedrooms, bathrooms
FROM silver
WHERE data_quality_flag = 'VALID'
  AND property_id IS NOT NULL AND title IS NOT NULL AND address IS NOT NULL
  AND price_in_billions IS NOT NULL AND price_in_billions > 0 AND price_in_billions < 1000
  AND (area IS NULL OR (area > 0 AND area < 10000))
"""

_SUMMARY = """
SELECT cast(date_key AS varchar) AS date_key,
       count(DISTINCT property_id) AS total_listings,
       round(sum(price_in_billions), 2) AS total_value_billions,
       round(avg(price_in_billions), 2) AS avg_price_billions,
       round(min(price_in_billions), 2) AS min_price_billions,
       round(max(price_in_billions), 2) AS max_price_billions,
       round(avg(price_per_m2_millions), 2) AS avg_price_per_m2,
       round(avg(area), 1) AS avg_area_m2,
       round(avg(cast(bedrooms AS double)), 1) AS avg_bedrooms,
       round(avg(cast(bathrooms AS double)), 1) AS avg_bathrooms,
       count(bedrooms) AS listings_with_bedrooms,
       count(bathrooms) AS listings_with_bathrooms,
       count(area) AS listings_with_area
FROM fct GROUP BY date_key ORDER BY date_key
"""

SUMMARY_COLS = [
    "date_key", "total_listings", "total_value_billions", "avg_price_billions",
    "min_price_billions", "max_price_billions", "avg_price_per_m2", "avg_area_m2",
    "avg_bedrooms", "avg_bathrooms", "listings_with_bedrooms",
    "listings_with_bathrooms", "listings_with_area",
]


class MedallionOracle:
    """The gold tables a one-shot build over all bronze so far must hold."""

    def __init__(self, bronze_files: list[str]):
        con = duckdb.connect()
        files = ", ".join(f"'{f}'" for f in bronze_files)
        con.execute(f"CREATE VIEW bronze AS SELECT * FROM read_parquet([{files}])")
        con.execute(f"CREATE TABLE fct AS {_ORACLE}")
        self.fct = {
            r[0]: r for r in con.execute(
                "SELECT property_id, province, cast(date_key AS varchar), "
                "price_in_billions, area FROM fct").fetchall()
        }
        self.summary = [tuple(r) for r in con.execute(_SUMMARY).fetchall()]
        con.close()

    def province_since(self, day: str) -> dict[str, tuple[int, float]]:
        acc: dict[str, list[float]] = {}
        for _pid, prov, d, price, _area in self.fct.values():
            if d >= day:
                acc.setdefault(prov, []).append(price)
        return {p: (len(v), round(sum(v) / len(v), 3)) for p, v in acc.items()}


def _close(a, b, tol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(float(a) - float(b)) <= tol
    return str(a) == str(b)


def check_summary(got: list[tuple], want: list[tuple]) -> list[str]:
    """Gold ``fct_daily_summary`` against the oracle. Counts must match
    exactly; a rounded mean may differ by one unit of its last digit
    (sums of doubles in another order)."""
    got = sorted((tuple(r) for r in got), key=lambda r: str(r[0]))
    if len(got) != len(want):
        return [f"summary has {len(got)} days, expected {len(want)}"]
    bad = []
    for g, w in zip(got, want):
        for name, a, b in zip(SUMMARY_COLS, g, w):
            if not _close(a, b, 0.0101 if isinstance(b, float) else 0):
                bad.append(f"summary {w[0]} {name}: got {a}, expected {b}")
    return bad[:5]


def check_daily_range(rows: list[list], oracle: MedallionOracle, lo: str, hi: str) -> list[str]:
    want = [(r[0], r[1], r[2]) for r in oracle.summary if lo <= r[0] <= hi]
    got = [(str(r[0]), r[1], r[2]) for r in rows]
    if [w[:2] for w in want] != [g[:2] for g in got]:
        return [f"daily range {lo}..{hi}: got {got[:3]}..., expected {want[:3]}..."]
    return [f"daily total {g[0]}: got {g[2]}, expected {w[2]}"
            for g, w in zip(got, want) if not _close(g[2], w[2], 0.0101)][:5]


def check_province(rows: list[list], oracle: MedallionOracle, day: str) -> list[str]:
    want = oracle.province_since(day)
    got = {r[0]: (r[1], r[2]) for r in rows}
    if set(got) != set(want):
        return [f"provinces since {day}: got {sorted(got)}, expected {sorted(want)}"]
    return [f"province {p}: got {got[p]}, expected {want[p]}" for p in want
            if got[p][0] != want[p][0] or not _close(got[p][1], want[p][1], 0.00101)]


def check_lookup(rows: list[list], oracle: MedallionOracle, pid: str) -> list[str]:
    w = oracle.fct.get(pid)
    if w is None:
        return [] if not rows else [f"lookup {pid}: got {rows}, expected no row"]
    if len(rows) != 1:
        return [f"lookup {pid}: got {len(rows)} rows, expected 1"]
    r = rows[0]
    ok = (r[0] == pid and str(r[1]) == w[2] and _close(r[2], w[3], 1e-9)
          and _close(r[3], w[4], 1e-9))
    return [] if ok else [f"lookup {pid}: got {r}, expected {w}"]


# ---------------------------------------------------------------------------
# daily_refresh (corpus part)
# ---------------------------------------------------------------------------


def check_exact(n_distinct: int, n_docs: int, exact_groups: list[list[int]]) -> list[str]:
    want = n_docs - sum(len(g) - 1 for g in exact_groups)
    return [] if n_distinct == want else [f"exact dedup kept {n_distinct}, expected {want}"]


def check_minhash(pairs: list[tuple], texts: dict[int, str],
                  near_pairs: list[tuple[int, int]]) -> list[str]:
    """Every planted near pair is reported; every reported pair is at or
    above the threshold by exact shingle Jaccard."""
    found = {(min(a, b), max(a, b)) for a, b, *_ in pairs}
    bad = [f"planted near pair {p} not found" for p in near_pairs
           if (min(p), max(p)) not in found]
    for a, b, *_ in pairs:
        j = jaccard(texts[a], texts[b])
        if j < NEAR_JACCARD:
            bad.append(f"pair ({a}, {b}) has Jaccard {j:.3f} < {NEAR_JACCARD}")
    return bad[:5]


SCALE = 1_000_000


def _quantize(vecs: np.ndarray) -> np.ndarray:
    x = vecs * SCALE
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _cos(qa: np.ndarray, qb: np.ndarray) -> np.ndarray:
    """Quantized-exact cosine matrix: exact int64 dots over the product of
    float64 square-root norms."""
    dots = qa @ qb.T
    den = (np.sqrt((qa * qa).sum(1).astype(np.float64))[:, None]
           * np.sqrt((qb * qb).sum(1).astype(np.float64))[None, :])
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, dots.astype(np.float64) / den, 0.0)


def assign_cells(ids: np.ndarray, vecs: np.ndarray, n_cells: int) -> np.ndarray:
    """Nearest frozen centroid (the ``n_cells`` lowest ids), ties to the
    lowest cell."""
    order = np.argsort(ids)
    q = _quantize(vecs)
    cent = q[order[:n_cells]]
    return ids[order[:n_cells]][np.argmax(_cos(q, cent), axis=1)]


def check_semdedup(survivors: set[int], ids: np.ndarray, vecs: np.ndarray, n_cells: int,
                   twin_pairs: list[tuple[int, int]]) -> list[str]:
    """A vector is dropped iff a lower-id vector of its cell has cosine
    >= TWIN_COSINE with it; every planted twin sharing its source's cell
    is therefore dropped."""
    cells = assign_cells(ids, vecs, n_cells)
    q = _quantize(vecs)
    bad = []
    for c in np.unique(cells):
        m = np.nonzero(cells == c)[0]
        m = m[np.argsort(ids[m])]
        sim = _cos(q[m], q[m])
        dropped = np.triu(sim >= TWIN_COSINE, k=1).any(axis=0)
        for i, d in zip(ids[m], dropped):
            if d == (int(i) in survivors):
                bad.append(f"vector {int(i)} in cell {int(c)}: dropped={not d}, expected {d}")
    cell_of = dict(zip(ids.tolist(), cells.tolist()))
    bad += [f"planted twin {t} of {s} kept" for s, t in twin_pairs
            if cell_of[s] == cell_of[t] and t in survivors]
    return bad[:5]


def knn_reference(ids: np.ndarray, vecs: np.ndarray, n_cells: int, query_ids: list[int],
                  k: int, n_probe: int) -> list[tuple[int, int, float]]:
    """IVF top-k over frozen centroids: each query probes its ``n_probe``
    nearest cells (similarity desc, cell asc) and ranks the other vectors
    there by (cosine desc, id asc)."""
    order = np.argsort(ids)
    q = _quantize(vecs)
    cent_ids = ids[order[:n_cells]]
    cent = q[order[:n_cells]]
    cells = cent_ids[np.argmax(_cos(q, cent), axis=1)]
    pos = {int(i): j for j, i in enumerate(ids)}
    out = []
    for qid in query_ids:
        qv = q[pos[qid]][None, :]
        csim = _cos(qv, cent)[0]
        probed = set(cent_ids[np.lexsort((cent_ids, -csim))[:n_probe]].tolist())
        cand = np.array([j for j in range(len(ids))
                         if int(cells[j]) in probed and int(ids[j]) != qid])
        sims = _cos(qv, q[cand])[0]
        top = np.lexsort((ids[cand], -sims))[:k]
        out += [(qid, int(ids[cand[t]]), float(sims[t])) for t in top]
    return out


def check_knn(got: list[tuple], want: list[tuple]) -> list[str]:
    g = sorted((int(a), int(b), float(c)) for a, b, c in got)
    w = sorted(want)
    if [x[:2] for x in g] != [x[:2] for x in w]:
        return [f"knn neighbours differ: got {len(g)} rows, expected {len(w)}"]
    return [f"knn cosine {x[:2]}: got {x[2]}, expected {y[2]}"
            for x, y in zip(g, w) if abs(x[2] - y[2]) > 1e-12][:5]


K1, B, QSCALE = 1.2, 0.75, 1048576.0


def bm25_reference(texts: dict[int, str], queries: list[tuple[str, list[str]]],
                   k: int) -> list[tuple[str, int, float, int]]:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene's non-negative idf) with each
    per-term contribution quantized to 2^-20; ties to the lower doc id."""
    toks = {d: t.split() for d, t in texts.items()}
    n_docs = len(toks)
    avgdl = float(sum(len(t) for t in toks.values())) / float(n_docs)
    terms = {t for _q, ts in queries for t in ts}
    tf = {d: Counter(w for w in t if w in terms) for d, t in toks.items()}
    df = Counter(w for c in tf.values() for w in c)
    out = []
    for qid, qterms in queries:
        scores: dict[int, int] = {}
        for w in set(qterms):
            idf = math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            for d, c in tf.items():
                if w in c:
                    t = float(c[w])
                    tfc = (t * (K1 + 1.0)) / (t + K1 * ((1.0 - B) + B * (float(len(toks[d])) / avgdl)))
                    scores[d] = scores.get(d, 0) + math.floor(idf * tfc * QSCALE + 0.5)
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        out += [(qid, d, s / QSCALE, r + 1) for r, (d, s) in enumerate(ranked)]
    return out


def check_bm25(got: list[tuple], want: list[tuple]) -> list[str]:
    g = sorted((str(a), int(r), int(b), float(s)) for a, b, s, r in got)
    w = sorted((str(a), int(r), int(b), float(s)) for a, b, s, r in want)
    return [] if g == w else [f"bm25 top-k differs: got {g[:2]}..., expected {w[:2]}..."]
