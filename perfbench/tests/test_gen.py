"""The input generator: determinism and coverage of the raw-document
variations. No Spark needed."""

from __future__ import annotations

import json
from collections import Counter

from perfbench import gen


def _plan_batches(seed: int, n: int = 6, size: int = 150):
    plan = gen.IngestPlan(seed, gen.universe(seed, 2000))
    out = []
    for i in range(n):
        b = plan.next_batch(i, size)
        plan.record(b)
        out.append(b)
    return plan, out


def test_same_seed_gives_byte_identical_inputs():
    assert gen.digest(11) == gen.digest(11)
    assert gen.digest(11) != gen.digest(12)


def test_catalog_tables_are_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    small = dict(n_customers=50, n_orders=200, n_lineitems=400, n_events=300, n_docs=40)
    gen.write_catalog_tables(3, str(a), **small)
    gen.write_catalog_tables(3, str(b), **small)
    gen.write_catalog_tables(4, str(c), **small)
    names = sorted(p.name for p in a.iterdir())
    assert names == sorted(p.name for p in b.iterdir())
    assert all((a / n).read_bytes() == (b / n).read_bytes() for n in names)
    assert any((a / n).read_bytes() != (c / n).read_bytes() for n in names)


def test_documents_cover_every_bronze_variation():
    _, batches = _plan_batches(5)
    seen = Counter()
    for b in batches:
        for _, r in b:
            if r.doc is None:
                continue
            d = json.loads(r.body)
            if "data" not in d:
                seen["missing_data_key"] += 1
                continue
            q = d["data"]["financials"].get("quarterly")
            if not q or not q.get("period_end_date"):
                seen["ttm_without_quarters"] += 1
                assert not any(k[1] == "ttm" for k in r.doc.keys)
                continue
            n = len(q["period_end_date"])
            metrics = {k: v for k, v in q.items() if k != "period_end_date"}
            seen["ragged"] += any(len(v) < n for v in metrics.values())
            seen["all_null_column"] += gen.ALL_NULL_METRIC in q
            seen["excluded_metric"] += gen.EXCLUDED_METRIC in q
            seen["sentinels"] += any(isinstance(x, str) and x.strip().upper() in
                                     ("N/A", "NA", "NULL", "NONE", "-")
                                     for k, v in metrics.items()
                                     if k != gen.ALL_NULL_METRIC for x in v)
            rev = q["revenue"]
            seen["mixed_int_decimal"] += (any(isinstance(x, int) for x in rev)
                                          and any(isinstance(x, float) for x in rev))
    for variation in ("missing_data_key", "ttm_without_quarters", "ragged",
                      "all_null_column", "excluded_metric", "sentinels",
                      "mixed_int_decimal"):
        assert seen[variation] > 0, variation


def test_fetch_error_and_reingest_mix():
    plan, batches = _plan_batches(9)
    outcomes = Counter(r.expect for b in batches for _, r in b)
    total = sum(outcomes.values())
    fetch_errors = sum(v for k, v in outcomes.items() if k in gen.FETCH_ERROR_CODES)
    assert 0.05 < fetch_errors / total < 0.15
    assert 0.02 < outcomes[gen.INVALID_FORMAT] / total < 0.09
    assert set(outcomes) <= {"DONE", gen.INVALID_FORMAT, *gen.FETCH_ERROR_CODES}
    # every batch after the first re-ingests ~20% of earlier tickers
    later = [t for b in batches[1:] for t, _ in b]
    first = {t for t, _ in batches[0]}
    assert any(t in first for t in later)
    assert max(plan.versions.values()) >= 1


def test_reingest_keeps_periods_and_adds_one():
    for t in gen.universe(2, 40):
        a, b = gen.make_doc(2, t, 0), gen.make_doc(2, t, 1)
        fa = {k for k in a.keys if k[1] == "financials"}
        fb = {k for k in b.keys if k[1] == "financials"}
        if fa and fb:
            assert fa < fb and len(fb) == len(fa) + 1
            return
    raise AssertionError("no pair of valid documents found")


def test_silver_model_is_union_of_done_documents():
    plan, batches = _plan_batches(4, n=2, size=50)
    want = set()
    for b in batches:
        for _, r in b:
            if r.expect == "DONE":
                want |= r.doc.keys
    assert plan.silver_keys == want
    assert all(k[2] is None for k in want if k[1] == "metadata")


def test_fake_transport_serves_the_table():
    resp = {"AAA": gen.response(1, "AAA", 0), "BBB": gen.response(1, "BBB", 0)}
    tr = gen.FakeTransport(resp)
    assert tr("AAA") == (resp["AAA"].status, resp["AAA"].body)


def test_universe_prefix_is_disjoint_and_sorts_after():
    base, z = gen.universe(3, 500), gen.universe(3, 50, prefix="Z")
    assert not set(base) & set(z)
    assert max(base) < min(z)


def test_read_stream_is_seeded_and_zipf_skewed():
    tickers = gen.universe(6, 200)
    take = lambda s: [next(s) for _ in range(3000)]  # noqa: E731
    a = take(gen.read_requests(6, tickers))
    assert a == take(gen.read_requests(6, tickers))
    kinds = Counter(k for k, _ in a)
    assert kinds == {k: 3000 // len(gen.READ_TYPES) for k in gen.READ_TYPES}
    hot = Counter(p["ticker"] for k, p in a if "ticker" in p)
    top = hot.most_common(1)[0][1]
    assert top > 10 * (sum(hot.values()) / len(tickers))
