"""The benchmark's own computation of what the program must output,
written apart from the program (pure Python, no Spark), and the checks
that compare the two.

The poll model follows the reference's rules as the ledger states them:
L9 wall-clock fields (the zone token is ignored), L5 date key
``yyyymmddhh``, L4 tokens (``, ; '`` become spaces, lowercase, split on
single spaces), L2 lowest id per shared keyword, L3 vote count then
lowest id, L1 default country 1, L6 media sentinel, L7 anti-join append
on (id_source, id_date, title) and keep-first rewrite.
"""

from __future__ import annotations

import re
from collections import Counter

from perfbench.gen import MONTHS, REFERENCES

NEWS_KEY = ("id_source", "id_date", "title")
_MON = {m: i + 1 for i, m in enumerate(MONTHS)}
_DATE = re.compile(
    r"^[A-Za-z]{3},\s*(\d{2}) ([A-Za-z]{3}) (\d{2}|\d{4}) (\d{2}):\d{2}:\d{2} \S+$"
)


def expect(label: str, got, want) -> list[str]:
    """One check: the program's output ``got`` against the model's
    ``want``; returns the violation, if any."""
    return [] if got == want else [f"{label}: program {got!r}, model {want!r}"]


def keyword_map() -> dict[str, int]:
    kw: dict[str, int] = {}
    for cid, _, words in REFERENCES:
        for w in words:
            kw[w] = min(cid, kw.get(w, cid))
    return kw


KW = keyword_map()


def date_key(pubdate: str) -> int:
    m = _DATE.match(pubdate)
    if not m:
        raise ValueError(f"unparseable pubDate {pubdate!r}")
    day, mon, year, hour = m.groups()
    y = int(year) if len(year) == 4 else 2000 + int(year)
    return ((y * 100 + _MON[mon]) * 100 + int(day)) * 100 + int(hour)


def country(title: str | None, description: str | None) -> int:
    joined = " ".join(x for x in (title, description) if x is not None)
    for ch in ",;'":
        joined = joined.replace(ch, " ")
    votes = Counter(KW[t] for t in joined.lower().split(" ") if t in KW)
    if not votes:
        return 1
    return min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]


def fact_row(id_source: int, item: dict) -> tuple:
    """(id_country, id_source, id_date, title, link, description, media)."""
    return (
        country(item["title"], item["description"]),
        id_source,
        date_key(item["date"]),
        item["title"],
        item["link"],
        item["description"],
        item["media"],
    )


def key_of(row: tuple) -> tuple:
    return (row[1], row[2], row[3])


class WarehouseModel:
    """The fact table as a multiset of rows, driven through the same
    append / rewrite sequence as the program."""

    def __init__(self):
        self.rows: list[tuple] = []
        self.keys: set[tuple] = set()

    def append(self, offered: list[tuple]) -> int:
        # anti-join against the table as it stood before the batch: copies
        # inside one batch all pass
        novel = [r for r in offered if key_of(r) not in self.keys]
        self.rows.extend(novel)
        self.keys.update(key_of(r) for r in novel)
        return len(novel)

    def rewrite(self) -> tuple[int, int]:
        first: dict[tuple, tuple] = {}
        for r in self.rows:
            first.setdefault(key_of(r), r)
        self.rows = list(first.values())
        return len(self.rows), len(first)


# --------------------------------------------------------------------------
# dashboard read set (same aggregates the benchmark asks Spark for)
# --------------------------------------------------------------------------

COUNTRY_NAMES = {
    1: "France", 2: "Italie", 3: "Egypte", 4: "Argentine", 5: "Hongrie",
    6: "Ukraine", 7: "Russie", 8: "Israel", 9: "Etats-Unis", 10: "Chine",
    11: "Inde", 12: "Venezuela",
}


def dashboard(rows, lo: int, hi: int, source_names: dict[int, str]) -> dict:
    """The read set's four answers over ``lo <= id_date <= hi``:
    star-join counts per (country, source), per-country rows and distinct
    titles, per-source rows and latest key, rows per hour of day."""
    sel = [r for r in rows if lo <= r[2] <= hi]
    star = Counter((COUNTRY_NAMES[r[0]], source_names[r[1]]) for r in sel)
    per_country: dict[int, list] = {}
    for r in sel:
        per_country.setdefault(r[0], []).append(r[3])
    per_source: dict[int, list] = {}
    for r in sel:
        per_source.setdefault(r[1], []).append(r[2])
    hours = Counter(r[2] % 100 for r in sel)
    return {
        "star": sorted((c, s, n) for (c, s), n in star.items()),
        "country": sorted((c, len(t), len(set(t))) for c, t in per_country.items()),
        "source": sorted((s, len(k), max(k)) for s, k in per_source.items()),
        "hour": sorted(hours.items()),
    }


# --------------------------------------------------------------------------
# stream properties
# --------------------------------------------------------------------------

def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def check_stream(
    committed: list[dict],
    articles: dict[int, dict],
    kind: dict[int, tuple],
    batch_of: dict[int, int],
    threshold: float,
) -> list[str]:
    """The stream sink's contract over the whole corpus; returns the
    violations found (empty when it holds)."""
    errors: list[str] = []
    by_id = {}
    for r in committed:
        aid = r["article_id"]
        if aid in by_id:
            errors.append(f"article {aid} committed twice")
        by_id[aid] = r
        a = articles.get(aid)
        if a is None:
            errors.append(f"committed article {aid} was never offered")
            continue
        want = fact_row(a["id_source"], a)
        got = (r["id_country"], r["id_source"], r["id_date"], r["title"],
               r["link"], r["description"], r["media"])
        if got != want:
            errors.append(f"article {aid} committed as {got}, expected {want}")
    keys = Counter((r["id_source"], r["id_date"], r["title"]) for r in committed)
    for k, n in keys.items():
        if n > 1:
            errors.append(f"fact key {k} committed {n} times")
    groups: dict[tuple, list[int]] = {}
    for aid, a in articles.items():
        groups.setdefault((a["id_source"], date_key(a["date"]), a["title"]), []).append(aid)
    committed_key = {
        (r["id_source"], r["id_date"], r["title"]): r["article_id"] for r in committed
    }
    for k, ids in groups.items():
        if k in committed_key and committed_key[k] != min(ids):
            errors.append(
                f"key {k} kept article {committed_key[k]}, lowest is {min(ids)}"
            )
    sh = {r["article_id"]: shingles(r["description"]) for r in committed}
    for aid, a in articles.items():
        if aid in by_id:
            continue
        k = (a["id_source"], date_key(a["date"]), a["title"])
        if k in committed_key and committed_key[k] < aid:
            continue  # exact-key drop, kept by a lower id
        mine = shingles(a["description"])
        if not any(
            batch_of[cid] < batch_of[aid]
            and len(mine & theirs) / len(mine | theirs) >= threshold
            for cid, theirs in sh.items()
        ):
            errors.append(f"article {aid} dropped with no earlier near match")
    for aid, (k, _) in kind.items():
        if k == "far" and aid not in by_id:
            errors.append(f"far article {aid} not committed")
    return errors


def near_recall(committed_ids: set[int], kind: dict[int, tuple]) -> float:
    planted = [aid for aid, (k, _) in kind.items() if k == "near"]
    if not planted:
        return 1.0
    return sum(1 for aid in planted if aid not in committed_ids) / len(planted)
