"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments, so
the same seed always yields the same inputs.  Nothing here touches
Spark; the engine sees only these inputs, as API pages or as parquet
files in the run's own directory.

* :func:`power_pages` -- PowerSystemRightNow minute records in the
  API shape of FIXTURES.md section 1 (gaps, one NULL-timestamp row,
  zero-production and zero-solar rows, a weekend and the Nov -> Dec
  season boundary), cut into a backfill page and hourly pages.
* :func:`documents` -- a text corpus with planted exact-duplicate
  groups and near-duplicate families (a few percent of tokens edited).
"""

from __future__ import annotations

import itertools
import math
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

API_FIELDS = [
    "CO2Emission", "ProductionGe100MW", "ProductionLt100MW",
    "SolarPower", "OffshoreWindPower", "OnshoreWindPower",
    "ExchangeSum", "ExchangeDK1_DE", "ExchangeDK2_DE", "ExchangeDK1_NL",
    "ExchangeDK1_GB", "ExchangeDK1_NO", "ExchangeDK1_SE",
    "ExchangeDK2_SE", "ExchangeDK1_DK2",
]

#: the backfill is centred on this instant, so it always holds the
#: fall -> winter season boundary; Sat 29 and Sun 30 Nov 2025 give a
#: weekend on its fall side
SEASON_BOUNDARY = datetime(2025, 12, 1)

GAP_SHARE = 0.03
ZERO_PRODUCTION_SHARE = 0.02


def _power_record(rng: random.Random, ts: datetime) -> dict:
    hour = ts.hour + ts.minute / 60
    solar = (max(0.0, 600 * math.sin(math.pi * (hour - 6) / 12))
             if 6 <= hour < 18 else 0.0)
    rec = {
        "Minutes1UTC": ts.strftime("%Y-%m-%dT%H:%M:%S"),
        "CO2Emission": round(max(0.0, rng.gauss(80, 20)), 2),
        "ProductionGe100MW": round(max(0.0, rng.gauss(1500, 300)), 2),
        "ProductionLt100MW": round(max(0.0, rng.gauss(400, 100)), 2),
        "SolarPower": round(solar, 2),
        "OffshoreWindPower": round(max(0.0, rng.gauss(900, 400)), 2),
        "OnshoreWindPower": round(max(0.0, rng.gauss(700, 300)), 2),
        "ExchangeSum": round(rng.gauss(0, 500), 2),
        "ExchangeDK1_DE": round(rng.gauss(0, 200), 2),
        "ExchangeDK2_DE": round(rng.gauss(0, 200), 2),
        "ExchangeDK1_NL": round(rng.gauss(0, 150), 2),
        "ExchangeDK1_GB": round(rng.gauss(0, 150), 2),
        "ExchangeDK1_NO": round(rng.gauss(0, 300), 2),
        "ExchangeDK1_SE": round(rng.gauss(0, 200), 2),
        "ExchangeDK2_SE": round(rng.gauss(0, 200), 2),
        "ExchangeDK1_DK2": round(rng.gauss(0, 250), 2),
    }
    if rng.random() < ZERO_PRODUCTION_SHARE:
        rec["ProductionGe100MW"] = 0.0
        rec["ProductionLt100MW"] = 0.0
    return rec


def power_pages(seed: int, backfill_minutes: int, page_minutes: int,
                n_pages: int) -> list[list[dict]]:
    """``[backfill, page_1, ..., page_n]``: API records in ascending
    minute order, as the API's ``sort=Minutes1UTC`` answers them.

    About 3% of minutes are missing (so 5-row frames differ from
    5-minute frames), and the backfill carries one record whose
    timestamp is NULL.  Each hourly page's last minute is always
    present, so every page advances the bronze cursor by exactly one
    page."""
    rng = random.Random(seed)
    start = SEASON_BOUNDARY - timedelta(minutes=backfill_minutes // 2)
    bounds = [0, backfill_minutes] + [
        backfill_minutes + page_minutes * k for k in range(1, n_pages + 1)]
    pages = []
    for lo, hi in zip(bounds, bounds[1:]):
        page = []
        for i in range(lo, hi):
            if i < hi - 1 and rng.random() < GAP_SHARE:
                continue
            page.append(_power_record(rng, start + timedelta(minutes=i)))
        pages.append(page)
    null_row = {"Minutes1UTC": None, **{f: 1.0 for f in API_FIELDS}}
    pages[0].insert(rng.randrange(len(pages[0])), null_row)
    return pages


def record_bytes(records: list[dict]) -> int:
    """Input volume of API records: the bytes of their JSON text,
    which is what the API delivers."""
    import json

    return sum(len(json.dumps(r)) for r in records)


# ------------------------------------------------------------ documents
#: stop words of both languages text_lang_id detects
_STOP = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with",
         "og", "i", "det", "at", "en", "den", "til", "er", "som", "af"]
VOCAB_SIZE = 6000
NEAR_DUP_SHARE = 0.30
EXACT_DUP_SHARE = 0.05
EDIT_SHARE = 0.05
#: documents shorter than the quality gate's 10 tokens, so the gate
#: rejects some family members and the representative choice matters
SHORT_SHARE = 0.05


@dataclass
class Corpus:
    """Rows plus the planted structure the output checks use."""
    doc_id: list[int] = field(default_factory=list)
    text: list[str] = field(default_factory=list)
    lang: list[str] = field(default_factory=list)
    source: list[str] = field(default_factory=list)
    #: near-duplicate family id (-1 outside any planted family)
    family: list[int] = field(default_factory=list)
    #: exact-duplicate group id (-1 outside any planted group)
    exact_group: list[int] = field(default_factory=list)

    def columns(self) -> dict:
        return {"doc_id": self.doc_id, "text": self.text,
                "lang": self.lang, "source": self.source,
                "n_chars": [len(t) for t in self.text]}

    def properties(self) -> dict:
        fams: dict[int, int] = {}
        for f in self.family:
            if f >= 0:
                fams[f] = fams.get(f, 0) + 1
        exact: dict[int, int] = {}
        for g in self.exact_group:
            if g >= 0:
                exact[g] = exact.get(g, 0) + 1
        sizes: dict[int, int] = {}
        for s in fams.values():
            sizes[s] = sizes.get(s, 0) + 1
        n = len(self.doc_id)
        return {
            "docs": n,
            "bytes": sum(len(t.encode()) for t in self.text),
            "near_dup_share": round(sum(fams.values()) / n, 4),
            "exact_dup_share": round(
                sum(s - 1 for s in exact.values()) / n, 4),
            "family_sizes": {str(k): v for k, v in sorted(sizes.items())},
            "exact_groups": len(exact),
        }


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 9))))
    return _STOP + sorted(words)


def documents(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents: ~30% in near-duplicate families of 2-4
    (each copy a ~5% token edit of the family's base text), ~5% exact
    copies of another document, the rest independent.  Ids are
    shuffled, so family members are spread over the whole id range."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    # Zipf-like word weights over a large vocabulary: common words
    # repeat, but two unrelated documents almost never share 3-token
    # shingles
    cum = list(itertools.accumulate(
        1.0 / (r + 1) ** 0.8 for r in range(len(vocab))))

    def fresh_tokens() -> list[str]:
        n = (rng.randint(4, 9) if rng.random() < SHORT_SHARE
             else rng.randint(40, 120))
        return rng.choices(vocab, cum_weights=cum, k=n)

    def edited(tokens: list[str]) -> list[str]:
        out = list(tokens)
        for _ in range(max(1, round(EDIT_SHARE * len(out)))):
            out[rng.randrange(len(out))] = rng.choice(vocab)
        return out

    texts: list[str] = []
    family: list[int] = []
    exact: list[int] = []
    n_near = int(NEAR_DUP_SHARE * n_docs)
    n_exact = int(EXACT_DUP_SHARE * n_docs)
    fam = 0
    while len(texts) < n_near:
        base = fresh_tokens()
        size = min(rng.randint(2, 4), n_near - len(texts))
        if size < 2:
            break
        for k in range(size):
            texts.append(" ".join(base if k == 0 else edited(base)))
            family.append(fam)
            exact.append(-1)
        fam += 1
    while len(texts) < n_docs - n_exact:
        texts.append(" ".join(fresh_tokens()))
        family.append(-1)
        exact.append(-1)
    # exact copies of documents outside the near-dup families, so a
    # document belongs to at most one planted structure
    singles = [i for i, f in enumerate(family) if f < 0]
    originals = rng.sample(singles, n_exact)
    for g, i in enumerate(originals):
        exact[i] = g
        texts.append(texts[i])
        family.append(-1)
        exact.append(g)
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    corpus = Corpus()
    order = sorted(range(len(texts)), key=lambda i: ids[i])
    for i in order:
        corpus.doc_id.append(ids[i])
        corpus.text.append(texts[i])
        corpus.lang.append(rng.choice(["en", "da"]))
        corpus.source.append(f"src{rng.randrange(8)}")
        corpus.family.append(family[i])
        corpus.exact_group.append(exact[i])
    return corpus
