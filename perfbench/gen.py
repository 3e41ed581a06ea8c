"""Seeded, BIGSdb-shaped inputs for the two workloads.

Everything here is plain numpy/Python: the program under test only ever
sees the frames built from these structures.  The same seed gives the
same inputs, byte for byte.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

WILDCARD = "N"

# typing_batch
MLST_LOCI = 7
MLST_DEFS = 2_000
MLST_ALLELES = 150
CG_LOCI = 96  # above INTERSECT_UNROLL_MAX_LOCI (64): the shuffle leg
CG_DEFS = 600
CG_ALLELES = 40
CG_N_SHARE = 0.02  # share of cgMLST definition cells that hold 'N'
ALLELE_SKEW = 1.1  # Zipf exponent of allele popularity
BATCH_ISOLATES = 80
BATCHES_PER_ROUND = 2
MISSING_SHARE = 0.01  # share of loci left undesignated per isolate
PARALOG_SHARE = 0.01  # share of loci with a second (paralogous) allele
CG_MUTATIONS = 0.7  # mean cgMLST loci mutated away from the base definition
MLST_NOVEL_SHARE = 0.03  # share of MLST loci carrying an undefined allele
CLONAL_COMPLEXES = 12
CLUSTER_MAX_MISMATCH = 6

# isolate_queries
ISOLATES = 40_000
COUNTRIES = 30
SPECIES = ("Neisseria meningitidis", "Neisseria gonorrhoeae",
           "Neisseria lactamica", "Neisseria cinerea", "Neisseria polysaccharea")
SOURCES = ("blood", "csf", "throat swab", "urethral swab", "carrier",
           "environment", "unknown", "other")
OLD_VERSION_SHARE = 0.03
PRIVATE_SHARE = 0.06
EMBARGO_SHARE = 0.4  # of private records
USERS = 20
PROJECTS = 10
PROJECT_SHARE = 0.05
TODAY = "2024-06-01"
ALLELE_SEQ_LEN = 450
REQUESTS_PER_ROUND = 24
PAGE_SIZE = 25


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


# ------------------------------------------------------------------ schemes

@dataclass
class Scheme:
    """A scheme warehouse: sorted locus names (position = index) and one
    allele vector per ST, in locus order."""

    name: str
    loci: list[str]
    sts: list[int]
    profiles: list[list[str]]
    allele_probs: np.ndarray  # (n_alleles,) popularity of allele ids 1..n

    def md5(self, i: int) -> str:
        return hashlib.md5(",".join(self.profiles[i]).encode()).hexdigest()


def make_scheme(rng: np.random.Generator, name: str, n_loci: int, n_defs: int,
                n_alleles: int, n_share: float) -> Scheme:
    loci = [f"{name}_{i:03d}" for i in range(n_loci)]
    probs = zipf_probs(n_alleles, ALLELE_SKEW)
    seen: set[tuple[str, ...]] = set()
    profiles: list[list[str]] = []
    while len(profiles) < n_defs:
        cells = rng.choice(n_alleles, size=(n_defs, n_loci), p=probs) + 1
        wild = rng.random((n_defs, n_loci)) < n_share
        for row, w in zip(cells, wild):
            prof = tuple(WILDCARD if wi else str(a) for a, wi in zip(row, w))
            if prof not in seen:
                seen.add(prof)
                profiles.append(list(prof))
                if len(profiles) == n_defs:
                    break
    return Scheme(name, loci, list(range(1, n_defs + 1)), profiles, probs)


# ------------------------------------------------------------------ typing

@dataclass
class Batch:
    """One submission batch: long-form designations (isolate_id, locus,
    allele_id) covering both schemes."""

    ids: list[int]
    rows: list[tuple[int, str, str]]


@dataclass
class TypingInputs:
    mlst: Scheme
    cg: Scheme
    batches: list[Batch]


def _designate(rng, scheme: Scheme, base: list[str], iso: int,
               mutations: int, novel_share: float) -> list[tuple[int, str, str]]:
    n_loci = len(scheme.loci)
    n_alleles = len(scheme.allele_probs)
    vec = list(base)
    # a definition 'N' stands for any allele: the isolate carries one
    for i, a in enumerate(vec):
        if a == WILDCARD:
            vec[i] = str(rng.choice(n_alleles, p=scheme.allele_probs) + 1)
    for i in rng.choice(n_loci, size=min(mutations, n_loci), replace=False):
        vec[i] = str(rng.choice(n_alleles, p=scheme.allele_probs) + 1)
    novel = rng.random(n_loci) < novel_share
    missing = rng.random(n_loci) < MISSING_SHARE
    paralog = rng.random(n_loci) < PARALOG_SHARE
    rows = []
    for i, locus in enumerate(scheme.loci):
        if missing[i]:
            continue
        allele = str(n_alleles + 1 + i) if novel[i] else vec[i]
        rows.append((iso, locus, allele))
        if paralog[i]:
            rows.append((iso, locus, str(rng.integers(1, n_alleles + 1))))
    # paralogous designations are distinct (locus, allele) rows
    return list(dict.fromkeys(rows))


def _designate_many(rng, scheme: Scheme, ids: list[int]) -> list[tuple[int, str, str]]:
    """Vectorized ``_designate`` for a scheme without 'N' and isolates
    that copy a Zipf-popular ST unmutated."""
    n, n_loci = len(ids), len(scheme.loci)
    n_alleles = len(scheme.allele_probs)
    prof = np.array(scheme.profiles, dtype=object)
    vec = prof[rng.choice(len(prof), size=n, p=zipf_probs(len(prof), ALLELE_SKEW))]
    novel = rng.random((n, n_loci)) < MLST_NOVEL_SHARE
    vec[novel] = np.broadcast_to(
        np.array([str(n_alleles + 1 + i) for i in range(n_loci)], dtype=object),
        (n, n_loci))[novel]
    keep = rng.random((n, n_loci)) >= MISSING_SHARE
    extra = (rng.random((n, n_loci)) < PARALOG_SHARE) & keep
    second = (rng.integers(1, n_alleles + 1, size=(n, n_loci))).astype(str).astype(object)
    extra &= second != vec
    iso = np.repeat(np.asarray(ids), n_loci).reshape(n, n_loci)
    locus = np.broadcast_to(np.array(scheme.loci, dtype=object), (n, n_loci))
    rows = list(zip(iso[keep].tolist(), locus[keep].tolist(), vec[keep].tolist()))
    rows += zip(iso[extra].tolist(), locus[extra].tolist(), second[extra].tolist())
    return sorted(rows)


def make_typing(seed: int) -> TypingInputs:
    rng = np.random.default_rng([seed, 1])
    mlst = make_scheme(rng, "MLST", MLST_LOCI, MLST_DEFS, MLST_ALLELES, 0.0)
    cg = make_scheme(rng, "CG", CG_LOCI, CG_DEFS, CG_ALLELES, CG_N_SHARE)
    st_probs = zipf_probs(MLST_DEFS, ALLELE_SKEW)
    batches = []
    next_id = 1
    for _ in range(BATCHES_PER_ROUND):
        complexes = rng.choice(CG_DEFS, size=CLONAL_COMPLEXES, replace=False)
        ids, rows = [], []
        for _ in range(BATCH_ISOLATES):
            iso = next_id
            next_id += 1
            ids.append(iso)
            st = rng.choice(MLST_DEFS, p=st_probs)
            rows += _designate(rng, mlst, mlst.profiles[st], iso, 0,
                               MLST_NOVEL_SHARE)
            base = cg.profiles[rng.choice(complexes)]
            rows += _designate(rng, cg, base, iso,
                               int(rng.poisson(CG_MUTATIONS)), 0.0)
        batches.append(Batch(ids, rows))
    return TypingInputs(mlst, cg, batches)


def positional(rows: list[tuple[int, str, str]], scheme: Scheme
               ) -> list[tuple[int, int, str]]:
    """Long form (profile_key, pos, allele) for one scheme, pos = 0-based
    index in the scheme's sorted locus list."""
    pos = {locus: i for i, locus in enumerate(scheme.loci)}
    return [(iso, pos[loc], a) for iso, loc, a in rows if loc in pos]


# ------------------------------------------------------------------ queries

@dataclass
class QueryInputs:
    isolates: dict  # column name -> list
    private: list[tuple[int, int, str | None]]  # isolate_id, owner_id, embargo
    projects: list[tuple[int, int]]  # project_id, isolate_id
    designations: list[tuple[int, str, str]]  # isolate_id, locus, allele_id
    mlst: Scheme
    st_dates: list[str]
    alleles: list[tuple[str, str, str]]  # locus, allele_id, sequence
    requests: list[dict]


def _date(rng, start_year: int, end_year: int, n: int) -> list[str]:
    base = np.datetime64(f"{start_year}-01-01")
    days = (np.datetime64(f"{end_year}-12-31") - base).astype(int)
    return [str(base + int(d)) for d in rng.integers(0, days + 1, size=n)]


def _random_seq(rng, n: int) -> str:
    return "".join(np.array(list("ACGT"))[rng.integers(0, 4, size=n)])


def make_queries(seed: int) -> QueryInputs:
    rng = np.random.default_rng([seed, 2])
    n = ISOLATES
    countries = [f"Country{i:02d}" for i in range(COUNTRIES)]
    cidx = rng.choice(COUNTRIES, size=n, p=zipf_probs(COUNTRIES, 1.0))
    ids = list(range(1, n + 1))
    old = rng.random(n) < OLD_VERSION_SHARE
    isolates = {
        "id": ids,
        "isolate": [f"ISO-{i:06d}" for i in ids],
        "country": [countries[c] for c in cidx],
        "species": [SPECIES[s] for s in rng.choice(
            len(SPECIES), size=n, p=zipf_probs(len(SPECIES), 1.5))],
        "source": [SOURCES[s] for s in rng.integers(0, len(SOURCES), size=n)],
        "year": [int(y) for y in rng.integers(1990, 2025, size=n)],
        "date_entered": _date(rng, 2000, 2023, n),
        "datestamp": _date(rng, 2020, 2024, n),
        "new_version": [int(rng.integers(1, n + 1)) if o else None for o in old],
    }
    priv_ids = rng.choice(n, size=int(n * PRIVATE_SHARE), replace=False) + 1
    embargo = rng.random(len(priv_ids)) < EMBARGO_SHARE
    emb_dates = _date(rng, 2022, 2026, len(priv_ids))
    private = [
        (int(i), int(rng.integers(1, USERS + 1)), d if e else None)
        for i, e, d in zip(priv_ids, embargo, emb_dates)
    ]
    proj_ids = rng.choice(n, size=int(n * PROJECT_SHARE), replace=False) + 1
    projects = [(int(rng.integers(1, PROJECTS + 1)), int(i)) for i in proj_ids]

    mlst = make_scheme(rng, "MLST", MLST_LOCI, MLST_DEFS, MLST_ALLELES, 0.0)
    st_dates = _date(rng, 2010, 2024, MLST_DEFS)
    designations = _designate_many(rng, mlst, ids)
    alleles = [
        (locus, str(a), _random_seq(rng, ALLELE_SEQ_LEN))
        for locus in mlst.loci for a in range(1, MLST_ALLELES + 1)
    ]
    return QueryInputs(isolates, private, projects, designations, mlst,
                       st_dates, alleles, _make_requests(rng, isolates, mlst,
                                                         alleles, countries))


ROLES = ("public", "user", "admin")
REQUEST_KINDS = ("search", "isolates_list", "field_breakdown", "crosstab",
                 "profiles_list", "scheme_designations", "isolate_st",
                 "sequence")


def _make_requests(rng, isolates, mlst: Scheme, alleles, countries) -> list[dict]:
    """REQUESTS_PER_ROUND requests, every kind equally often.  The shape of
    each slot (kind, role, field, sort order) is the same for every seed;
    the seed picks the values (countries, years, pages, ids, sequences)."""
    reqs = []
    n = len(isolates["id"])
    for rep in range(REQUESTS_PER_ROUND // len(REQUEST_KINDS)):
        for kind in REQUEST_KINDS:
            role = ROLES[(len(reqs) + rep) % len(ROLES)]
            r = {"kind": kind, "role": role,
                 "user_id": int(rng.integers(1, USERS + 1)),
                 "project_ids": [int(rng.integers(1, PROJECTS + 1))]}
            if kind == "search":
                r["body"] = {
                    "field.country": str(rng.choice(countries[:10])).upper(),
                    "field.year": {"operator": ">=",
                                   "value": int(rng.integers(1995, 2015))},
                    "page": int(rng.integers(1, 4)), "page_size": PAGE_SIZE,
                    "sort": ("-year", "datestamp", "id")[rep % 3]}
            elif kind in ("isolates_list", "profiles_list"):
                r["page"] = int(rng.integers(1, 20))
            elif kind == "field_breakdown":
                r["field"] = ("country", "species", "source")[rep % 3]
            elif kind == "crosstab":
                r["fields"] = ["species", ("source", "country")[rep % 2]]
            elif kind == "scheme_designations":
                prof = list(mlst.profiles[int(rng.integers(0, len(mlst.sts)))])
                if rep % 2:  # a novel allele: no ST
                    prof[int(rng.integers(0, MLST_LOCI))] = str(MLST_ALLELES + 99)
                r["designations"] = dict(zip(mlst.loci, prof))
            elif kind == "isolate_st":
                r["isolate_id"] = int(rng.integers(1, n + 1))
            elif kind == "sequence":
                picks = rng.choice(len(alleles), size=3, replace=False)
                seqs = [(f"q{j}", alleles[p][2].lower() if j == 0 else alleles[p][2])
                        for j, p in enumerate(picks)]
                seqs.append(("q_miss", _random_seq(rng, ALLELE_SEQ_LEN)))
                r["sequences"] = seqs
            reqs.append(r)
    return reqs
