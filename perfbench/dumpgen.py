"""Seeded synthetic WikiData dump for the ``geo_build`` workload.

The routing mix follows ``scripts/bench_ingest.make_dump``: countries
first, languages at the tail, and most entities non-geographic noise
that class routing prunes (~88% of the dump). On top of that mix the
generator adds the properties FIXTURES.md §1 asks of post-phase inputs:

- P131 chains of depth 1-6 (city -> TE levels -> state -> country),
  with diamonds (TEs holding two parents one level up);
- cities under two ``is_2nd`` ancestors at different depths (a level-3
  TE that is itself second-level, nested under a state);
- Zipf-like label counts, so a few cities carry hundreds of labels;
- native labels (P1705) on part of the cities;
- a few defunct (P576 dissolved, P1366 replaced-by) and excluded
  entities, cities without P17, and cities pointing at a dissolved
  country (post-phase D1 drops those references).

Cycles are left out on purpose: a P131 cycle forces the closure to run
all ``max_steps`` (100) levels, a pathological case of its own that
would swamp every other cost of the build.

``make_dump`` returns the exact row count each of the nine extracted
tables must have, derived from the same decisions that wrote the dump.
"""

from __future__ import annotations

import bz2
import json
import random

CLASS_SETS = {
    "territorial_entities": ["QTE"],
    "human_settlements": ["QCITY"],
    "excluded": ["QEXC"],
    "excluded_settlements": ["QEXCS"],
    "second_level_admin_div": ["Q2ND"],
    "languages": ["QLANG"],
}

EXTRACTED_TABLES = (
    "countries",
    "object_languages",
    "languages",
    "territorial_entities",
    "territorial_entities_parents",
    "cities",
    "cities_countries",
    "object_labels",
    "missing_p17",
)

N_LANGUAGES = 50
# language entity codes: the label languages the post phase resolves
# through, hyphenated codes included (prefix-LIKE match, FIXTURES.md §1)
LANG_CODES = ["en", "de", "fr", "eo", "es", "nl", "it", "pt-br", "de-at", "zh-hans"] + [
    f"l{i}" for i in range(N_LANGUAGES - 10)
]
# label languages: the codes above plus a long tail nobody speaks
LABEL_LANGS = LANG_CODES + [f"x{i}" for i in range(250)]
MAX_TE_LEVEL = 5  # TE levels below the countries; cities add one hop
PAST = "+1995-01-01T00:00:00Z"


def _snak(value) -> dict:
    return {"snaktype": "value", "datavalue": {"value": value}}


def _stmt(value, qualifiers: dict | None = None) -> dict:
    s = {"mainsnak": _snak(value)}
    if qualifiers:
        s["qualifiers"] = qualifiers
    return s


def _ent(qid: str, qualifiers: dict | None = None) -> dict:
    return _stmt({"id": qid}, qualifiers)


def _time(t: str) -> dict:
    return _snak({"time": t, "timezone": 0})


def _label_count(rng: random.Random) -> int:
    # Pareto(1.1) tail: P(count > 100) ~ 0.6%, capped at every language
    return min(len(LABEL_LANGS), int(rng.paretovariate(1.1)))


def _labels(rng: random.Random, eid: str, n: int) -> dict:
    return {
        lang: {"language": lang, "value": f"{eid}-{lang}"}
        for lang in rng.sample(LABEL_LANGS, n)
    }


class _Plan:
    """Role of every entity index, decided before any JSON is written so
    that P131 edges can point at entities later in the dump too."""

    def __init__(self, n: int):
        self.n_countries = max(n // 100, 5)
        self.n_states = max(n // 50, 10)
        self.n_lower = max(n // 40, 12)
        self.first_lang = n - N_LANGUAGES
        if self.first_lang < self.n_countries + self.n_states + self.n_lower:
            raise ValueError(f"n={n} is too small for the routing mix")
        # TE levels: states are level 1; lower TEs spread over 2..MAX
        self.level = {}
        lo = self.n_countries + self.n_states
        for i in range(self.n_countries, lo):
            self.level[i] = 1
        for j, i in enumerate(range(lo, lo + self.n_lower)):
            self.level[i] = 2 + j % (MAX_TE_LEVEL - 1)
        self.by_level = {}
        for i, lvl in self.level.items():
            self.by_level.setdefault(lvl, []).append(i)
        # two countries are dissolved: their cities_countries references
        # survive extraction and are dropped by the post phase (D1)
        self.dissolved_countries = {0, 1}


def make_dump(path: str, n: int, seed: int) -> dict[str, int]:
    """Write an ``n``-entity dump to ``path`` (bz2 JSON lines inside an
    array, the WikiData layout) and return the expected row count of
    each extracted table."""
    rng = random.Random(seed)
    plan = _Plan(n)
    want = dict.fromkeys(EXTRACTED_TABLES, 0)
    lang_ids = [f"Q{i}" for i in range(plan.first_lang, n)]

    def langs(k: int) -> list[dict]:
        return [_ent(q) for q in rng.sample(lang_ids, k)]

    with bz2.open(path, "wt", compresslevel=1) as f:
        f.write("[\n")
        for i in range(n):
            eid = f"Q{i}"
            doc = {"id": eid, "claims": {}}
            claims = doc["claims"]
            if i < plan.n_countries:
                k = rng.randint(1, 3)
                claims["P297"] = [_stmt(f"c{i}")]
                claims["P37"] = langs(k)
                doc["labels"] = _labels(rng, eid, rng.randint(1, 6))
                if i in plan.dissolved_countries:
                    claims["P576"] = [_stmt({"time": PAST, "timezone": 0})]
                else:
                    want["countries"] += 1
                    want["object_languages"] += k
            elif i >= plan.first_lang:
                claims["P31"] = [_ent("QLANG")]
                claims["P424"] = [_stmt(LANG_CODES[i - plan.first_lang])]
                want["languages"] += 1
            elif i in plan.level:
                _territorial_entity(rng, plan, i, doc, langs, want)
            else:
                r = rng.random()
                if r < 0.10:
                    _settlement(rng, plan, i, doc, want)
                elif r < 0.103:  # excluded, and excluded settlements
                    claims["P31"] = [_ent("QCITY"), _ent(rng.choice(["QEXC", "QEXCS"]))]
                    claims["P17"] = [_ent(f"Q{rng.randrange(plan.n_countries)}")]
                    doc["labels"] = _labels(rng, eid, 2)
                else:  # non-geographic noise: pruned by class routing
                    claims["P31"] = [_ent(f"QOTHER{rng.randrange(100)}")]
                    doc["labels"] = _labels(rng, eid, rng.randint(1, 4))
            f.write(json.dumps(doc) + (",\n" if i < n - 1 else "\n"))
        f.write("]\n")
    return want


def _territorial_entity(rng, plan: _Plan, i: int, doc: dict, langs, want: dict) -> None:
    eid, claims = doc["id"], doc["claims"]
    lvl = plan.level[i]
    # every state is second-level; a tenth of level-3 TEs are too, so
    # their cities have is_2nd ancestors at two depths
    is_2nd = lvl == 1 or (lvl == 3 and rng.random() < 0.10)
    claims["P31"] = [_ent("QTE")] + ([_ent("Q2ND")] if is_2nd else [])
    if is_2nd:
        claims["P300"] = [_stmt(f"s{i}")]
    if lvl == 1:
        parents = [rng.randrange(plan.n_countries)]
    else:
        up = plan.by_level[lvl - 1]
        n_par = 2 if rng.random() < 0.15 and len(up) > 1 else 1  # diamond
        parents = rng.sample(up, n_par)
    claims["P131"] = [_ent(f"Q{p}") for p in parents]
    k = rng.randint(0, 2)
    if k:
        claims["P37"] = langs(k)
    n_labels = _label_count(rng)
    doc["labels"] = _labels(rng, eid, n_labels)
    roll = rng.random()
    if roll < 0.01:
        claims["P1366"] = [_ent(f"Q{rng.randrange(plan.n_countries)}")]  # replaced
        return
    if roll < 0.015:
        claims["P31"].append(_ent("QEXC"))
        return
    want["territorial_entities"] += 1
    want["object_languages"] += k
    want["territorial_entities_parents"] += len(parents)
    want["object_labels"] += n_labels


def _settlement(rng, plan: _Plan, i: int, doc: dict, want: dict) -> None:
    eid, claims = doc["id"], doc["claims"]
    claims["P31"] = [_ent("QCITY")]
    # attach under a TE of any level (chain depth lvl + 1) or, rarely,
    # straight under a country (depth 1)
    if rng.random() < 0.05:
        parents = [rng.randrange(plan.n_countries)]
    else:
        parents = [rng.choice(plan.by_level[rng.randint(1, MAX_TE_LEVEL)])]
    claims["P131"] = [_ent(f"Q{p}") for p in parents]
    countries = rng.sample(range(plan.n_countries), rng.choice((1, 1, 1, 2)))
    has_p17 = rng.random() >= 0.01
    if has_p17:
        # first entry dated (priority 0), a second one undated (1001)
        claims["P17"] = [_ent(f"Q{countries[0]}", {"P580": [_time(PAST)]})] + [
            _ent(f"Q{c}") for c in countries[1:]
        ]
    claims["P1082"] = [
        {
            "mainsnak": _snak({"amount": f"+{rng.randrange(1000, 9999999)}", "unit": "1"}),
            "qualifiers": {"P585": [_time(f"+20{rng.randrange(10, 24)}-01-01T00:00:00Z")]},
        }
    ]
    claims["P625"] = [_stmt({"latitude": rng.uniform(-90, 90), "longitude": rng.uniform(-180, 180)})]
    n_labels = _label_count(rng)
    doc["labels"] = _labels(rng, eid, n_labels)
    n_native = 0
    if rng.random() < 0.3:
        n_native = rng.randint(1, 2)
        claims["P1705"] = [
            _stmt({"language": lang, "text": f"{eid}-native-{lang}"})
            for lang in rng.sample(LANG_CODES, n_native)
        ]
    if rng.random() < 0.005:
        claims["P576"] = [_stmt({"time": PAST, "timezone": 0})]  # dissolved
        return
    if not has_p17:
        want["missing_p17"] += 1
        return
    want["cities"] += 1
    want["cities_countries"] += len(countries)
    want["territorial_entities_parents"] += len(parents)
    want["object_labels"] += n_labels + n_native
