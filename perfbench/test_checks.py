"""The benchmark's correctness checks reject perturbed results.

    python3 -m pytest perfbench/test_checks.py -q

Pure Python plus DuckDB: no Spark JVM is started.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from perfbench import gen, model  # noqa: E402


# ---------------------------------------------------------------- poll model

def test_date_key_three_branches_use_the_wall_clock():
    ts = dt.datetime(2023, 3, 6, 14, 5, 0)
    keys = {model.date_key(gen.pubdate(ts, b)) for b in range(3)}
    assert keys == {2023030614}  # the zone token never shifts the hour (L9)


def test_country_vote_ledger_cases():
    assert model.country("europe", None) == 2            # L2: 2 beats 5
    assert model.country("asie asie", "") == 10          # L2: 10 beats 11
    assert model.country("Kyiv Amerique", None) == 1     # L4: mixed case never matches
    assert model.country("rome,milan caire", None) == 2  # L4: ',' splits; 2 votes beat 1
    assert model.country("rome. l'europe", None) == 2    # '.' does not split, "'" does
    assert model.country("caire rome", None) == 2        # L3: tie -> lowest id
    assert model.country("moscou MOSCOU caire", None) == 7
    assert model.country("nothing here", "either") == 1  # L1 default


def _row(src, key, title):
    return (1, src, key, title, "l", "d", "null")


def test_append_passes_in_batch_copies_and_rewrite_keeps_one():
    wm = model.WarehouseModel()
    assert wm.append([_row(1, 2023010100, "a"), _row(1, 2023010100, "b")]) == 2
    # re-offer of 'a', 'c' twice on the wire, 'd' new
    offered = [_row(1, 2023010100, "a"), _row(1, 2023010101, "c"),
               _row(1, 2023010101, "c"), _row(2, 2023010100, "d")]
    assert wm.append(offered) == 3
    assert wm.rewrite() == (4, 4)


def test_poll_checks_reject_perturbed_results():
    wm = model.WarehouseModel()
    want = wm.append([_row(1, 2023010100, "a"), _row(1, 2023010100, "a")])
    assert model.expect("append", want, want) == []
    assert model.expect("append", want - 1, want)        # one copy lost
    rows = wm.rows
    names = {1: "outlet1"}
    good = model.dashboard(rows, 2023010100, 2023010123, names)
    assert model.expect("dash", good, model.dashboard(rows, 2023010100, 2023010123, names)) == []
    bad = dict(good, hour=[(0, 1)])
    assert model.expect("dash", bad, good)
    assert model.expect("rewrite", (2, 1), wm.rewrite())  # duplicate survived


def test_poll_inputs_shape():
    p = gen.PollInputs(7)
    rows = p.cycle(0)
    assert len(rows) == p.FEEDS * p.WINDOW + p.WIRE_COPIES
    assert rows == gen.PollInputs(7).cycle(0)  # same seed, same inputs
    keys = [model.date_key(it["date"]) for _, it in rows]
    assert all(2023010100 <= k <= 2023123123 for k in keys)  # inside the date dim (L5)


# ------------------------------------------------------------ stream checks

def _stream_case():
    g = gen.StreamInputs(3)
    for _ in range(3):
        g.make_file()
    articles = g.all_articles()
    # the sink's contract, computed directly: keep-first per fact key, then
    # drop rows near an earlier committed row
    committed, kept_key = [], {}
    for f in range(len(g.files)):
        batch = sorted(g.files[f], key=lambda a: a["article_id"])
        for a in batch:
            row = model.fact_row(a["id_source"], a)
            k = model.key_of(row)
            if k in kept_key:
                continue
            if g.kind[a["article_id"]][0] == "near":
                continue  # at or above the bar against an earlier original
            kept_key[k] = a["article_id"]
            committed.append(dict(zip(
                ("id_country", "id_source", "id_date", "title", "link",
                 "description", "media"), row), article_id=a["article_id"]))
    return g, articles, committed


def test_stream_check_accepts_the_contract():
    g, articles, committed = _stream_case()
    assert model.check_stream(committed, articles, g.kind, g.batch_of, 0.6) == []


@pytest.mark.parametrize("perturb", [
    "duplicate_key", "higher_id_kept", "far_dropped", "row_changed", "near_without_match",
])
def test_stream_check_rejects_perturbed_results(perturb):
    g, articles, committed = _stream_case()
    if perturb == "duplicate_key":
        dup = next(a for a, (k, _) in g.kind.items() if k == "redelivery")
        src = articles[dup]
        committed.append(dict(committed[0], **{
            "article_id": dup, "id_source": src["id_source"],
            "id_date": model.date_key(src["date"]), "title": src["title"],
            "link": src["link"], "description": src["description"],
            "media": src["media"],
            "id_country": model.country(src["title"], src["description"]),
        }))
    elif perturb == "higher_id_kept":
        dup, (_, orig) = next((a, v) for a, v in g.kind.items() if v[0] == "redelivery")
        committed = [r for r in committed if r["article_id"] != orig]
        src = articles[dup]
        committed.append(dict(zip(
            ("id_country", "id_source", "id_date", "title", "link", "description", "media"),
            model.fact_row(src["id_source"], src)), article_id=dup))
    elif perturb == "far_dropped":
        committed = committed[1:]
    elif perturb == "row_changed":
        committed[0] = dict(committed[0], id_country=committed[0]["id_country"] % 12 + 1)
    threshold = 0.6
    if perturb == "near_without_match":
        # at this bar no planted rewrite matches its original, so the
        # dropped rewrites are unexplained
        threshold = 0.99
    assert model.check_stream(committed, articles, g.kind, g.batch_of, threshold)


def test_near_rewrites_reach_the_threshold():
    g = gen.StreamInputs(5)
    for _ in range(2):
        g.make_file()
    arts = g.all_articles()
    for aid, (k, orig) in g.kind.items():
        if k == "near":
            a, b = model.shingles(arts[aid]["description"]), model.shingles(arts[orig]["description"])
            assert len(a & b) / len(a | b) >= 0.6  # the stream's near threshold


# ------------------------------------------------------------- query oracle

class _Frame:
    """Stands in for a Spark frame: oracle.compare only calls toPandas()."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_oracle_compare_rejects_a_perturbed_result(tmp_path):
    pytest.importorskip("duckdb")
    from newsmaper_etl_spark.oracle import compare, duckdb_conn
    from newsmaper_etl_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    sf = tmp_path / "sf0.01"
    sf.mkdir()
    gen.write_corpus(str(sf), 1)
    oracle = QUERIES["q_dedup_exact"].oracle
    con = duckdb_conn(str(sf))
    try:
        want = con.execute(oracle).df()
    finally:
        con.close()
    assert compare("q_dedup_exact", _Frame(want), oracle, str(sf)).ok
    assert not compare("q_dedup_exact", _Frame(want.iloc[1:]), oracle, str(sf)).ok
    changed = want.copy()
    changed.iloc[0, 0] = changed.iloc[1, 0]
    assert not compare("q_dedup_exact", _Frame(changed), oracle, str(sf)).ok
