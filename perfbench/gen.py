"""Seeded input generators, pure Python (no Spark).

Every generator takes a ``random.Random`` built from the run's seed, so
the same seed gives the same inputs. Shapes (counts, windows, shares)
are fixed constants; the seed only changes the words, the keyword
placement and which items are copied. perfbench/README.md gives the
source of every shape constant: the reference pipeline, or the run
budget where the reference gives no figure.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from xml.sax.saxutils import escape

# --------------------------------------------------------------------------
# Keyword dictionary (references.json) with the ledger cases
# --------------------------------------------------------------------------

#: (country id, name, keywords). Ids are the bootstrap's 12-row countries
#: seed. L2: 'europe' is claimed by 2 and 5, 'asie' by 10 and 11 — the
#: lowest id wins. L4: 'Kyiv' and 'Amerique' are mixed-case, so a
#: lowercased token never matches them.
REFERENCES = [
    (2, "Italie", ["italie", "rome", "milan", "europe"]),
    (3, "Egypte", ["egypte", "caire", "nil"]),
    (4, "Argentine", ["argentine", "buenos"]),
    (5, "Hongrie", ["hongrie", "budapest", "europe"]),
    (6, "Ukraine", ["ukraine", "kiev", "Kyiv"]),
    (7, "Russie", ["russie", "moscou"]),
    (8, "Israel", ["israel", "jerusalem"]),
    (9, "Etats-Unis", ["usa", "washington", "Amerique"]),
    (10, "Chine", ["chine", "pekin", "asie"]),
    (11, "Inde", ["inde", "delhi", "asie"]),
    (12, "Venezuela", ["venezuela", "caracas"]),
]
#: words planted in text: plain keywords plus the L4 shapes — separators
#: the tokenizer splits on (``, ; '``), one it does not (``.``), and
#: mixed case
KEYWORD_FORMS = [
    "rome", "milan", "europe", "caire", "nil", "buenos", "budapest",
    "kiev", "Kyiv", "moscou", "jerusalem", "washington", "Amerique",
    "pekin", "asie", "delhi", "caracas", "Rome", "rome,milan",
    "l'europe", "caire;nil", "rome.", "MOSCOU",
]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]
DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
CONS = "bcdfghjklmnprstvz"
VOWS = "aeiou"


def vocabulary(rng: random.Random, n: int = 600) -> list[str]:
    """``n`` distinct lowercase pseudo-words."""
    seen: set[str] = set()
    while len(seen) < n:
        syl = rng.randint(2, 4)
        seen.add("".join(rng.choice(CONS) + rng.choice(VOWS) for _ in range(syl)))
    return sorted(seen)


def text(rng: random.Random, vocab: list[str], n_words: int, kw_rate: float) -> str:
    words = []
    for _ in range(n_words):
        if rng.random() < kw_rate:
            words.append(rng.choice(KEYWORD_FORMS))
        else:
            words.append(rng.choice(vocab))
    return " ".join(words)


def pubdate(ts: dt.datetime, branch: int) -> str:
    """RFC-822 date in one of the three parse branches: numeric offset,
    a named zone, or a two-digit year."""
    wd = DAYS[ts.weekday()]
    mon = MONTHS[ts.month - 1]
    clock = ts.strftime("%H:%M:%S")
    if branch == 0:
        return f"{wd}, {ts.day:02d} {mon} {ts.year} {clock} +0100"
    if branch == 1:
        return f"{wd}, {ts.day:02d} {mon} {ts.year} {clock} GMT"
    return f"{wd}, {ts.day:02d} {mon} {ts.year % 100:02d} {clock} -0500"


def write_references(path: str) -> None:
    with open(path, "w") as f:
        json.dump([{"id": i, "name": n, "words": w} for i, n, w in REFERENCES], f)


# --------------------------------------------------------------------------
# poll: feeds with sliding windows, wire copies and a seeded history
# --------------------------------------------------------------------------

class PollInputs:
    """Per-feed item sequences. Item ``n`` of feed ``s`` is fixed by the
    seed; at cycle ``c`` a feed shows the last ``WINDOW`` items ending at
    ``HISTORY + (c + 1) * NEW_PER_CYCLE``, so each cycle re-offers
    ``WINDOW - NEW_PER_CYCLE`` already-loaded items and ``NEW_PER_CYCLE``
    new ones. ``WIRE_COPIES`` new items per cycle appear twice in their
    feed (an exact copy on the wire)."""

    FEEDS = 10              # the reference's 10 outlets
    WINDOW = 40
    NEW_PER_CYCLE = 6
    WIRE_COPIES = 2
    HISTORY = 800           # items per feed already in the warehouse
    ITEM_STEP_MIN = 15      # minutes between a feed's items
    T0 = dt.datetime(2023, 2, 1, 0, 0, 0)

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = vocabulary(random.Random(seed))
        self._cache: dict[tuple[int, int], dict] = {}

    def item(self, s: int, n: int) -> dict:
        key = (s, n)
        it = self._cache.get(key)
        if it is None:
            rng = random.Random(f"{self.seed}:{s}:{n}")
            ts = self.T0 + dt.timedelta(
                minutes=n * self.ITEM_STEP_MIN + rng.randrange(self.ITEM_STEP_MIN),
                seconds=rng.randrange(60),
            )
            media_kind = rng.randrange(3)
            it = {
                "title": text(rng, self.vocab, rng.randint(5, 8), 0.15) + f" n{s}x{n}",
                "link": f"https://outlet{s}.example/a/{n}",
                "description": text(rng, self.vocab, rng.randint(18, 30), 0.08),
                "date": pubdate(ts, rng.randrange(3)),
                "media": (
                    f"https://cdn{s}.example/{n}.jpg" if media_kind == 0 else
                    f"https://cdn{s}.example/{n}.mp3" if media_kind == 1 else "null"
                ),
                "media_kind": media_kind,
            }
            self._cache[key] = it
        return it

    def sources(self) -> list[tuple[int, str]]:
        return [(s, f"outlet{s}") for s in range(1, self.FEEDS + 1)]

    def history(self) -> list[tuple[int, dict]]:
        return [
            (s, self.item(s, n))
            for s in range(1, self.FEEDS + 1)
            for n in range(self.HISTORY)
        ]

    def cycle(self, c: int) -> list[tuple[int, dict]]:
        """(source id, item) rows offered at cycle ``c``, in feed order,
        wire copies included."""
        end = self.HISTORY + (c + 1) * self.NEW_PER_CYCLE
        rng = random.Random(f"{self.seed}:copies:{c}")
        copied = {
            (rng.randrange(1, self.FEEDS + 1),
             end - 1 - rng.randrange(self.NEW_PER_CYCLE))
            for _ in range(self.WIRE_COPIES)
        }
        while len(copied) < self.WIRE_COPIES:
            copied.add((rng.randrange(1, self.FEEDS + 1), end - 1))
        rows = []
        for s in range(1, self.FEEDS + 1):
            for n in range(end - self.WINDOW, end):
                rows.append((s, self.item(s, n)))
                if (s, n) in copied:
                    rows.append((s, self.item(s, n)))
        return rows

    def write_feeds(self, feed_dir: str, c: int) -> None:
        """Write cycle ``c``'s snapshot of every feed as ``feed<s>.xml``."""
        per_feed: dict[int, list[dict]] = {}
        for s, it in self.cycle(c):
            per_feed.setdefault(s, []).append(it)
        for s, items in per_feed.items():
            parts = [
                '<?xml version="1.0" encoding="utf-8"?>\n'
                '<rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">'
                f"<channel><title>outlet{s}</title>"
            ]
            for it in items:
                media = ""
                if it["media_kind"] == 0:
                    media = f'<media:content url="{escape(it["media"])}" medium="image"/>'
                elif it["media_kind"] == 1:
                    media = f'<enclosure url="{escape(it["media"])}" type="audio/mpeg"/>'
                parts.append(
                    f"<item><title>{escape(it['title'])}</title>"
                    f"<link>{escape(it['link'])}</link>"
                    f"<description>{escape(it['description'])}</description>"
                    f"<pubDate>{it['date']}</pubDate>{media}</item>"
                )
            parts.append("</channel></rss>\n")
            tmp = os.path.join(feed_dir, f".feed{s}.xml.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write("".join(parts))
            os.replace(tmp, os.path.join(feed_dir, f"feed{s}.xml"))


# --------------------------------------------------------------------------
# stream: article files with redeliveries, near rewrites and far documents
# --------------------------------------------------------------------------

#: outlets of the article stream, as in ``PollInputs``
OUTLETS = PollInputs.FEEDS


class StreamInputs:
    """Article-stream files, one file per micro-batch. Each file holds
    ``FAR`` fresh articles (random text, committed by construction),
    ``REDELIVER`` exact redeliveries (an earlier article under a new, higher
    ``article_id``; some from the same file, most from earlier ones) and
    ``NEAR`` near rewrites (an article from an earlier file with a new
    title and one or two words of its description replaced)."""

    FAR = 160
    REDELIVER = 24
    NEAR = 16
    T0 = dt.datetime(2023, 5, 1, 0, 0, 0)

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = vocabulary(random.Random(f"{seed}:stream"), 2000)
        self.files: list[list[dict]] = []
        self.kind: dict[int, tuple[str, int | None]] = {}  # id -> (kind, of)
        self.batch_of: dict[int, int] = {}
        self.next_id = 1

    def _article(self, rng: random.Random, f: int) -> dict:
        aid = self.next_id
        self.next_id += 1
        ts = self.T0 + dt.timedelta(hours=f * 2 + rng.randrange(2),
                                    minutes=rng.randrange(60))
        return {
            "article_id": aid,
            "id_source": rng.randint(1, OUTLETS),
            "title": text(rng, self.vocab, rng.randint(5, 8), 0.1) + f" s{aid}",
            "link": f"https://outlet.example/s/{aid}",
            "description": text(rng, self.vocab, rng.randint(30, 40), 0.05),
            "media": "null" if rng.random() < 0.3 else f"https://cdn.example/s/{aid}.jpg",
            "date": pubdate(ts, rng.randrange(3)),
        }

    def make_file(self) -> list[dict]:
        f = len(self.files)
        rng = random.Random(f"{self.seed}:file:{f}")
        rows = []
        for _ in range(self.FAR):
            a = self._article(rng, f)
            self.kind[a["article_id"]] = ("far", None)
            rows.append(a)
        earlier = [a for fl in self.files for a in fl
                   if self.kind[a["article_id"]][0] == "far"]
        for i in range(self.REDELIVER):
            pool = rows[: self.FAR] if (i % 4 == 0 or not earlier) else earlier
            src = rng.choice(pool)
            a = dict(src, article_id=self.next_id)
            self.next_id += 1
            self.kind[a["article_id"]] = ("redelivery", src["article_id"])
            rows.append(a)
        for _ in range(self.NEAR if earlier else 0):
            src = rng.choice(earlier)
            words = src["description"].split(" ")
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(1, len(words) - 1)] = rng.choice(self.vocab)
            a = dict(
                src,
                article_id=self.next_id,
                title=text(rng, self.vocab, rng.randint(5, 8), 0.0) + f" s{self.next_id}",
                description=" ".join(words),
            )
            self.next_id += 1
            self.kind[a["article_id"]] = ("near", src["article_id"])
            rows.append(a)
        rng.shuffle(rows)
        for a in rows:
            self.batch_of[a["article_id"]] = f
        self.files.append(rows)
        return rows

    def all_articles(self) -> dict[int, dict]:
        return {a["article_id"]: a for fl in self.files for a in fl}


def write_article_file(src_dir: str, index: int, rows: list[dict]) -> None:
    """Write one micro-batch file atomically (the stream source skips
    dot-files, so the temp name is never picked up half-written)."""
    tmp = os.path.join(src_dir, f".b{index:05d}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        for a in rows:
            fh.write(json.dumps(a) + "\n")
    os.replace(tmp, os.path.join(src_dir, f"b{index:05d}.json"))


# --------------------------------------------------------------------------
# curation pass: the corpora the declared curation queries read
# --------------------------------------------------------------------------

#: documents in the corpus (the shape of the sf0.01 test table)
DOCUMENTS = 500
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "data", "table", "agg", "value", "key", "stream", "window",
             "spark", "a", "group", "part", "big", "sort", "query", "fast",
             "the"]


def write_corpus(out_dir: str, seed: int) -> None:
    """Write ``documents.parquet`` (short texts over a 30-word vocabulary)
    under ``out_dir``, plus an empty file for every other table the
    oracle harness opens a view on (the dedup oracles read none of them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from newsmaper_etl_spark.io import TABLE_NAMES

    for name in TABLE_NAMES:
        if name != "documents":
            pq.write_table(pa.table({"unused": pa.array([], pa.int32())}),
                           os.path.join(out_dir, f"{name}.parquet"))
    rng = random.Random(f"{seed}:corpus")
    texts = []
    for k in range(DOCUMENTS):
        words = [rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 90))]
        if k % 20 == 19:
            words[rng.randrange(len(words))] = "dup"
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(["en", "en", "en", "es", "zh", "de", "fr"]) for _ in range(DOCUMENTS)], pa.string()),
        "source": pa.array([f"src{k % 20}" for k in range(DOCUMENTS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
