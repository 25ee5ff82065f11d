"""Tests of the benchmark's own code: seeded generators, the tail rule and
the output checks. No Spark session is needed.

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402

# ---------------------------------------------------------------- generators


def _inputs(seed: int, tmp) -> list[bytes]:
    """Every kind of generated input for one seed, as parquet bytes."""
    stream = gen.OrderStream(seed, 5000)
    bronze = gen.BronzeStream(seed, 300)
    corpus = gen.corpus_batch(seed, 0, n_docs=400, n_vecs=200)
    tables = [
        gen.orders_table(gen.orders(seed, 5000)),
        gen.orders_table(stream.merge_batch()),
        gen.orders_table(stream.merge_batch()),
        bronze.next_batch(),
        bronze.next_batch(),
        corpus.docs,
        corpus.emb,
    ]
    out = []
    for i, t in enumerate(tables):
        p = os.path.join(tmp, f"{seed}_{i}.parquet")
        gen.write_parquet(t, p)
        with open(p, "rb") as fh:
            out.append(fh.read())
    extras = (stream.delete_range(), stream.lookup_key(), gen.bm25_queries(seed, 1),
              gen.knn_query_ids(seed, 1, corpus), corpus.near_pairs, corpus.twin_pairs)
    out.append(repr(extras).encode())
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _inputs(7, tmp_path / "a") == _inputs(7, tmp_path / "b")


def test_other_seed_gives_other_inputs(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    a = _inputs(7, tmp_path / "a")
    b = _inputs(8, tmp_path / "b")
    assert all(x != y for x, y in zip(a, b))


def test_merge_batches_have_unique_keys_and_planted_pairs_meet_thresholds():
    stream = gen.OrderStream(3, 10_000)
    for _ in range(5):
        keys = stream.merge_batch()["o_orderkey"]
        assert keys.is_unique and len(keys) == stream.batch
    c = gen.corpus_batch(3, 0, n_docs=600, n_vecs=300)
    texts = dict(zip(c.docs.column("doc_id").to_pylist(), c.docs.column("text").to_pylist()))
    assert all(gen.jaccard(texts[a], texts[b]) >= gen.NEAR_JACCARD for a, b in c.near_pairs)
    assert all(len({texts[i] for i in g}) == 1 for g in c.exact_groups)
    vec = dict(zip(c.emb.column("vec_id").to_pylist(),
                   np.array(c.emb.column("embedding").to_pylist())))
    for s, t in c.twin_pairs:
        cos = vec[s] @ vec[t] / np.linalg.norm(vec[s]) / np.linalg.norm(vec[t])
        assert cos >= gen.TWIN_COSINE


# ----------------------------------------------------------------- tail rule


def test_tail_is_p75_at_40_samples():
    xs = [float(i) for i in range(1, 41)]
    value, pct = harness.tail(xs[::-1])
    assert (value, pct) == (30.0, 75.0)
    assert sum(x > value for x in xs) == 10


def test_tail_is_p90_at_100_samples():
    value, pct = harness.tail([float(i) for i in range(100, 0, -1)])
    assert (value, pct) == (90.0, 90.0)


def test_tail_falls_back_to_median_below_21_samples():
    assert harness.tail([5.0, 1.0, 3.0]) == (3.0, 50.0)
    assert harness.tail([float(i) for i in range(20)]) == (9.5, 50.0)


# ---------------------------------------------------------------- lake checks


@pytest.fixture
def model():
    m = gen.OrdersModel(gen.orders(5, 2000))
    m.commit(0)
    stream = gen.OrderStream(5, 2000, batch=100)
    m.merge(stream.merge_batch())
    m.commit(1)
    m.delete(10, 19)
    m.commit(2)
    return m


def test_lake_checks_accept_the_tracked_state(model):
    key = int(model.rows.index[0])
    row = model.rows.loc[key].to_dict()
    assert checks.check_order_lookup([row], model, key) == []
    assert checks.check_order_lookup([], model, 15) == []  # deleted
    lo, hi = dt.date(1993, 1, 1), dt.date(1993, 3, 31)
    n, total = model.window(lo, hi)
    assert checks.check_order_window(n, total, model, lo, hi) == []
    assert checks.check_time_travel(model.counts[1], model, 1) == []
    final = {s: (len(g), g["o_totalprice"].sum()) for s, g in model.rows.groupby("o_orderstatus")}
    assert checks.check_orders_final(final, 0, model) == []


def test_lake_checks_reject_corrupted_answers(model):
    key = int(model.rows.index[0])
    row = dict(model.rows.loc[key].to_dict(), o_totalprice=1.0)
    assert checks.check_order_lookup([row], model, key)
    assert checks.check_order_lookup([row], model, 15)  # a deleted key came back
    lo, hi = dt.date(1993, 1, 1), dt.date(1993, 3, 31)
    n, total = model.window(lo, hi)
    assert checks.check_order_window(n + 1, total, model, lo, hi)
    assert checks.check_order_window(n, total * 1.01, model, lo, hi)
    assert checks.check_time_travel(model.counts[1] - 1, model, 1)
    final = {s: (len(g), g["o_totalprice"].sum()) for s, g in model.rows.groupby("o_orderstatus")}
    assert checks.check_orders_final(final, 3, model)
    status = next(iter(final))
    assert checks.check_orders_final(dict(final, **{status: (final[status][0] - 1,
                                                            final[status][1])}), 0, model)


# ----------------------------------------------------------- medallion checks


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = tmp_path_factory.mktemp("bronze")
    stream = gen.BronzeStream(9, 400)
    files = []
    for i in range(3):
        p = str(d / f"b{i}.parquet")
        gen.write_parquet(stream.next_batch(), p)
        files.append(p)
    return checks.MedallionOracle(files), stream


def test_medallion_oracle_covers_relists_and_rejects_listings(oracle):
    o, stream = oracle
    classes = {lid: cls for lid, cls, _loc, _legal in stream.listings}
    assert {classes[p] for p in o.fct} == {"valid"}
    assert len(o.summary) == 3 and all(r[1] > 0 for r in o.summary)


def test_medallion_checks_reject_corrupted_answers(oracle):
    o, _stream = oracle
    assert checks.check_summary(o.summary, o.summary) == []
    bad = list(o.summary)
    bad[1] = bad[1][:2] + (bad[1][2] + 0.5,) + bad[1][3:]
    assert checks.check_summary(bad, o.summary)
    assert checks.check_summary(o.summary[:-1], o.summary)

    lo, hi = o.summary[0][0], o.summary[-1][0]
    rows = [[r[0], r[1], r[2]] for r in o.summary]
    assert checks.check_daily_range(rows, o, lo, hi) == []
    rows[0][1] += 1
    assert checks.check_daily_range(rows, o, lo, hi)

    prov = [[p, n, avg] for p, (n, avg) in sorted(o.province_since(lo).items())]
    assert checks.check_province(prov, o, lo) == []
    prov[0][2] += 0.01
    assert checks.check_province(prov, o, lo)

    pid, w = next(iter(o.fct.items()))
    good = [[pid, w[2], w[3], w[4]]]
    assert checks.check_lookup(good, o, pid) == []
    assert checks.check_lookup([[pid, w[2], w[3] * 2, w[4]]], o, pid)
    assert checks.check_lookup(good, o, "L9999999")


# -------------------------------------------------------------- corpus checks


@pytest.fixture(scope="module")
def corpus():
    return gen.corpus_batch(11, 0, n_docs=600, n_vecs=400)


def _texts(c):
    return dict(zip(c.docs.column("doc_id").to_pylist(), c.docs.column("text").to_pylist()))


def _vectors(c):
    return c.emb.column("vec_id").to_numpy(), np.array(c.emb.column("embedding").to_pylist())


def test_exact_and_minhash_checks_reject_corrupted_answers(corpus):
    n = corpus.docs.num_rows
    want = n - sum(len(g) - 1 for g in corpus.exact_groups)
    assert checks.check_exact(want, n, corpus.exact_groups) == []
    assert checks.check_exact(want + 1, n, corpus.exact_groups)

    texts = _texts(corpus)
    pairs = [(a, b, 0, gen.jaccard(texts[a], texts[b])) for a, b in corpus.near_pairs]
    assert checks.check_minhash(pairs, texts, corpus.near_pairs) == []
    assert checks.check_minhash(pairs[1:], texts, corpus.near_pairs)  # a planted pair missed
    ids = sorted(texts)
    stray = (ids[0], ids[1], 0, 0.9)  # two unrelated documents
    assert checks.check_minhash(pairs + [stray], texts, corpus.near_pairs)


def _reference_survivors(ids, vecs):
    cells = checks.assign_cells(ids, vecs, gen.N_CELLS)
    q = checks._quantize(vecs)
    keep = set()
    for c in np.unique(cells):
        m = np.nonzero(cells == c)[0]
        m = m[np.argsort(ids[m])]
        dropped = np.triu(checks._cos(q[m], q[m]) >= gen.TWIN_COSINE, k=1).any(axis=0)
        keep.update(int(i) for i in ids[m][~dropped])
    return keep


def test_semdedup_check_rejects_a_kept_twin(corpus):
    ids, vecs = _vectors(corpus)
    keep = _reference_survivors(ids, vecs)
    assert checks.check_semdedup(keep, ids, vecs, gen.N_CELLS, corpus.twin_pairs) == []
    cells = dict(zip(ids.tolist(), checks.assign_cells(ids, vecs, gen.N_CELLS).tolist()))
    s, t = next((s, t) for s, t in corpus.twin_pairs if cells[s] == cells[t])
    assert checks.check_semdedup(keep | {t}, ids, vecs, gen.N_CELLS, corpus.twin_pairs)
    assert checks.check_semdedup(keep - {s}, ids, vecs, gen.N_CELLS, corpus.twin_pairs)


def test_knn_check_rejects_a_wrong_neighbour(corpus):
    ids, vecs = _vectors(corpus)
    q = gen.knn_query_ids(11, 1, corpus, n=3)
    want = checks.knn_reference(ids, vecs, gen.N_CELLS, q, k=5, n_probe=4)
    assert len(want) == 15 and checks.check_knn(want, want) == []
    bad = list(want)
    a, b, cos = bad[0]
    bad[0] = (a, next(int(i) for i in ids if int(i) not in {x[1] for x in want}), cos)
    assert checks.check_knn(bad, want)
    assert checks.check_knn([(a, b, cos - 1e-6)] + want[1:], want)


def test_bm25_check_rejects_a_wrong_score(corpus):
    texts = _texts(corpus)
    queries = gen.bm25_queries(11, 1)
    want = checks.bm25_reference(texts, queries, k=5)
    assert len(want) == 15 and checks.check_bm25(want, want) == []
    qid, doc, score, rnk = want[0]
    assert checks.check_bm25([(qid, doc, score + 2 ** -20, rnk)] + want[1:], want)
    assert checks.check_bm25(want[1:], want)


# ------------------------------------------------------------ trace helpers


def test_parse_metric_reads_spark_rendered_values():
    assert harness.parse_metric("1.9 s") == 1900.0
    assert harness.parse_metric("344 ms") == 344.0
    assert harness.parse_metric("1602.3 KiB") == pytest.approx(1602.3 * 1024)
    assert harness.parse_metric("100,000") == 100_000.0
    block = "total (min, med, max (stageId: taskId))\n3.1 MiB (781.3 KiB, 781.3 KiB)"
    assert harness.parse_metric(block) == pytest.approx(3.1 * 1024 * 1024)


def test_covered_time_is_the_union_clipped_to_the_call():
    assert harness._covered([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)], 0.5, 5.5) == pytest.approx(3.0)
    assert harness._covered([], 0.0, 1.0) == 0.0


def test_geomean_weighs_each_template_once():
    fast, slow = [100.0] * 9, [400.0]
    assert harness.geomean_of_medians([fast, slow]) == pytest.approx(200.0)


def test_own_time_keeps_the_share_of_cpu_time_not_stolen():
    assert harness.own_time(2.0, busy=75, stolen=25) == pytest.approx(1.5)
    assert harness.own_time(2.0, busy=80, stolen=0) == 2.0
    assert harness.own_time(2.0, busy=0, stolen=0) == 2.0  # no tick in the interval
    busy, stolen = harness.host_ticks()
    assert busy > 0 and stolen >= 0
    wall, own = harness.Clock().read()
    assert 0.0 <= own <= wall
