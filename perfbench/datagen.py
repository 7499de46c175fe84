"""Seeded generators for the benchmark's inputs.

``write_catalog_tables`` writes the ten tables the catalog queries read
(``region nation customer supplier part orders lineitem events documents
embeddings``), one ``<name>.parquet`` each, with the column names, types
and value ranges of the repository's fixed test data (TESTDATA.md). Row
counts follow that data's scale-factor progression: ``sf=0.001`` gives
6,000 lineitem rows, ``sf=0.01`` 60,000.

``pypi_payloads`` builds the PyPI-shaped package corpus the ETL workload
crawls, and ``pipeline_expectations`` predicts, from the corpus alone, the
row and entity counts the pipeline must produce.

Same seed, same bytes: every draw comes from one ``numpy`` generator.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64
_N_LABELS = 10


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    d = rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(base + d, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _balanced(rng: np.random.Generator, k: int, n: int, p=None) -> np.ndarray:
    """``n`` draws from ``range(k)`` with each value's count fixed (equal,
    or in proportions ``p``) and only their order random, so a seed
    changes which rows hold a value but not how many: at sf0.001 the
    10-row supplier table would otherwise have 0 to 6 suppliers in one
    region, and queries filtering on it would do seed-dependent work."""
    shares = np.full(k, 1.0 / k) if p is None else np.asarray(p)
    counts = np.floor(shares * n).astype(int)
    counts[: n - counts.sum()] += 1
    return rng.permutation(np.repeat(np.arange(k), counts))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[_balanced(rng, len(values), n, p)])


def catalog_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_orders = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_events = max(1, round(1_000_000 * sf))
    n_users = max(1, round(n_events * 0.015))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    i64 = pa.int64()
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(_balanced(rng, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(_balanced(rng, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b + 1}" for b in _balanced(rng, 25, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    ts = ts0 + np.sort(rng.integers(0, month_us, n_events)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Token streams over the fixed 31-word vocabulary, 10-99 tokens long.
    One document in fifty copies an earlier one with one token changed,
    so the near-duplicate families have work to do."""
    lens = rng.integers(10, 100, n)
    flat = rng.integers(0, len(_VOCAB), int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    docs = [[_VOCAB[j] for j in flat[offs[i]:offs[i + 1]]] for i in range(n)]
    for i in range(1, n):
        if rng.random() < 0.02:
            src = list(docs[int(rng.integers(0, i))])
            src[int(rng.integers(0, len(src)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            docs[i] = src
    texts = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around one centroid per label."""
    centroids = rng.standard_normal((_N_LABELS, _EMB_DIM))
    labels = rng.integers(0, _N_LABELS, n)
    v = centroids[labels] + 0.8 * rng.standard_normal((n, _EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM), pa.int32()), flat
        ),
        "label": pa.array(labels, pa.int32()),
    })


def write_catalog_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in catalog_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# -- ETL workload corpus -----------------------------------------------------
#
# The shape parameters below are stated assumptions, not measurements of
# pypi.org (perfbench/METRICS.md lists them): four packages per author on
# average, 0-3 requirements per package, one requirement in ten outside the
# corpus, three spellings per person, and three people in ten going by a
# common given name.

_LAST = ["smith", "doe", "garcia", "chen", "novak", "kumar", "berg", "haddad",
         "silva", "tanaka", "kowalski", "moreau", "okafor", "lind", "rossi"]
# Common given names. Several share their first four letters, so people
# who go by different ones still meet in a prefix block.
_GIVEN = ["alex", "alexander", "alexandra", "andrea", "andreas", "chris",
          "christian", "christina", "christopher", "daniel", "daniela", "david",
          "jan", "jana", "jane", "john", "johan", "johannes", "maria", "mariano",
          "mark", "markus", "martin", "martina", "michael", "michel", "michelle",
          "peter", "petra", "sam", "samuel", "samantha"]
_COMMON_GIVEN_SHARE = 0.3
_LICENSES = ["Apache-2.0", "BSD", "GPL-3.0", "MIT", "MPL-2.0"]


def _handle(i: int) -> str:
    """A first token unique down to its first four letters, like a user
    name that nobody else uses."""
    return "".join(chr(97 + (i // 26**k) % 26) for k in range(4)) + "n"


def _people(n: int, rng: np.random.Generator) -> list[str]:
    """``n`` distinct people as ``"first last"``. Three in ten go by a
    common given name, so distinct people share ER blocks and the scorer
    has pairs to reject; the rest go by a handle of their own."""
    out: list[str] = []
    seen: set[str] = set()
    i = 0
    while len(out) < n:
        last = _LAST[int(rng.integers(0, len(_LAST)))]
        if rng.random() < _COMMON_GIVEN_SHARE:
            first = _GIVEN[int(rng.integers(0, len(_GIVEN)))]
        else:
            first, i = _handle(i), i + 1
        if f"{first} {last}" not in seen:
            seen.add(f"{first} {last}")
            out.append(f"{first} {last}")
    return out


def _spellings(name: str) -> list[str]:
    """Surface forms of one person that the ER stage must merge."""
    first, last = name.split(" ")
    return [f"{first.title()} {last.title()}", f"{first}  {last}", f"{first.upper()} {last}"]


def pypi_payloads(n_packages: int, seed: int) -> dict[str, dict]:
    """``{package: {"info": {...}}}`` like pypi.org's JSON API. Authors
    are drawn from a pool of people, each spelled several ways, so entity
    resolution has near-duplicate names to merge. One requirement in ten
    names a package outside the corpus (a dangling edge)."""
    rng = np.random.default_rng(seed)
    people = _people(max(2, n_packages // 4), rng)
    names = [f"pkg{i:05d}" for i in range(n_packages)]
    out: dict[str, dict] = {}
    for name in names:
        forms = _spellings(people[int(rng.integers(0, len(people)))])
        reqs = []
        for _ in range(int(rng.integers(0, 4))):
            if rng.random() < 0.1:
                reqs.append(f"external{int(rng.integers(0, 50))}>=1.0")
            else:
                reqs.append(f"{names[int(rng.integers(0, n_packages))]}>=0.{int(rng.integers(1, 9))}")
        out[name] = {"info": {
            "name": name,
            "author": forms[int(rng.integers(0, len(forms)))],
            "license": _LICENSES[int(rng.integers(0, len(_LICENSES)))],
            "requires_dist": reqs or None,
        }}
    return out


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _er_features(name: str) -> list[str]:
    """``er.features.DEFAULT_FEATURES`` of one name, in their order."""
    s = name.lower()
    return [s, s.split(" ", 1)[0], s.split("[", 1)[0], re.split(r"[\[\(<;=!>~ ]", s, maxsplit=1)[0]]


def _er_score(fa: list[str], fb: list[str]) -> float:
    """``er.scoring.expression_scorer`` with its default weights."""
    z = -2.0
    for a, b in zip(fa, fb):
        z = z + (4.0 / len(fa)) * (1.0 - _levenshtein(a, b) / max(len(a), len(b), 1))
    return round(1.0 / (1.0 + math.exp(-z)), 6)


def predict_resolution(names: list[str], threshold: float = 0.5,
                       max_block_size: int = 1000) -> dict[str, int]:
    """Entity resolution of distinct author names, redone in plain Python
    by the rules of ``er.resolution.dedup_messy`` with its defaults:
    block keys are each feature's whole value, first token and first four
    letters; blocks of more than ``max_block_size`` names are dropped;
    every pair sharing a block is scored and those scoring above
    ``threshold`` are merged into connected components. Returns the
    candidate pair, match and entity counts."""
    feats = [_er_features(n) for n in names]
    blocks: dict[str, set[int]] = {}
    for i, f in enumerate(feats):
        for fi, v in enumerate(f):
            if v:
                for pi, key in enumerate((v, v.split(" ", 1)[0], v[:4])):
                    blocks.setdefault(f"{fi}:{pi}:{key}", set()).add(i)
    pairs = {(a, b) for ids in blocks.values() if len(ids) <= max_block_size
             for a in ids for b in ids if a < b}
    root = list(range(len(names)))

    def find(i: int) -> int:
        while root[i] != i:
            root[i] = root[root[i]]
            i = root[i]
        return i

    matches = 0
    for a, b in pairs:
        if _er_score(feats[a], feats[b]) > threshold:
            matches += 1
            root[find(a)] = find(b)
    return {"candidate_pairs": len(pairs), "matches": matches,
            "entities": len({find(i) for i in range(len(names))})}


def pipeline_expectations(payloads: dict[str, dict]) -> dict[str, int]:
    """Counts the ETL pipeline must reproduce, computed in plain Python:
    packages, requires edges that survive the dangling filter (distinct
    package pairs whose target is in the corpus), and the entity
    resolution of the distinct author names (``predict_resolution``)."""
    infos = [p["info"] for p in payloads.values()]
    known = {i["name"] for i in infos}
    edges = set()
    for i in infos:
        for spec in i["requires_dist"] or []:
            req = re.match(r"^[A-Za-z0-9_\-]+", spec).group(0)
            if req in known:
                edges.add((i["name"], req))
    er = predict_resolution(sorted({i["author"] for i in infos}))
    return {
        "packages": len(infos),
        "requires_edges": len(edges),
        "author_entities": er["entities"],
        "er_candidate_pairs": er["candidate_pairs"],
        "er_matches": er["matches"],
    }


class PayloadFetcher:
    """In-process stand-in for ``sources.http.default_fetcher``: serves the
    corpus by URL with the ``(status, body, etag)`` contract, 404 for
    unknown packages. Picklable, so Python workers can run it."""

    def __init__(self, payloads: dict[str, dict]):
        self.payloads = payloads

    def __call__(self, url: str, etag: str | None):
        pkg = url.rstrip("/").removesuffix("/json").rsplit("/", 1)[-1]
        if pkg not in self.payloads:
            return 404, None, None
        return 200, json.dumps(self.payloads[pkg]), f'W/"{pkg}-v1"'
