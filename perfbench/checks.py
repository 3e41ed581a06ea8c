"""Reference computations the program's outputs are checked against.

Each function computes the expected output from the reference rule, in
numpy, pandas or plain Python, and shares no code with ``bigsdb_spark``;
the workloads compare the program's outputs with these.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

WILDCARD = "N"


# ------------------------------------------------------------------ typing

def exact_sts(rows, loci, defs: dict[str, int]) -> set[tuple[int, int]]:
    """md5 path: an isolate's alleles at the scheme loci, ordered by
    (locus, allele) and comma-joined, must equal a definition's vector
    exactly.  ``defs`` maps the comma-joined definition vector to its ST."""
    loci = set(loci)
    per: dict[int, list[tuple[str, str]]] = {}
    for iso, locus, allele in rows:
        if locus in loci:
            per.setdefault(iso, []).append((locus, allele))
    out = set()
    for iso, pairs in per.items():
        st = defs.get(",".join(a for _, a in sorted(pairs)))
        if st is not None:
            out.add((iso, st))
    return out


def membership_sts(pos_rows, profiles: list[list[str]], sts: list[int],
                   allow_missing: bool) -> set[tuple[int, int]]:
    """Positional set membership: a definition matches an isolate iff at
    every position its allele is one of the isolate's designations there,
    or (missing loci allowed) it holds 'N'.  Every designated isolate is
    eligible."""
    prof = np.array(profiles, dtype=object)
    n_defs, n_loci = prof.shape
    wild = prof == WILDCARD
    per: dict[int, list[set[str]]] = {}
    for iso, pos, allele in pos_rows:
        per.setdefault(iso, [set() for _ in range(n_loci)])[pos].add(allele)
    sts_arr = np.array(sts)
    out = set()
    for iso, sets in per.items():
        ok = np.ones(n_defs, dtype=bool)
        for p in range(n_loci):
            hit = np.isin(prof[:, p], list(sets[p])) if sets[p] else np.zeros(n_defs, bool)
            if allow_missing:
                hit |= wild[:, p]
            ok &= hit
            if not ok.any():
                break
        out.update((iso, int(st)) for st in sts_arr[ok])
    return out


def pair_distances(rows, loci) -> dict[tuple[int, int], tuple[int, int, int]]:
    """(id1 < id2) -> (shared, matched, hamming) over the long form joined
    to itself on locus: shared counts joined designation pairs, matched
    the equal ones.  C·Cᵀ over per-locus counts gives shared; B·Bᵀ over
    (locus, allele) indicators gives matched."""
    loci = {l: i for i, l in enumerate(loci)}
    rows = [(i, loci[l], a) for i, l, a in rows if l in loci]
    ids = sorted({r[0] for r in rows})
    idx = {v: k for k, v in enumerate(ids)}
    keys = {}
    counts = np.zeros((len(ids), len(loci)), dtype=np.int64)
    ind = []
    for iso, l, a in rows:
        counts[idx[iso], l] += 1
        ind.append((idx[iso], keys.setdefault((l, a), len(keys))))
    b = np.zeros((len(ids), len(keys)), dtype=np.int64)
    for i, k in ind:
        b[i, k] = 1
    shared = counts @ counts.T
    matched = b @ b.T
    out = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if shared[i, j]:
                s, m = int(shared[i, j]), int(matched[i, j])
                out[(ids[i], ids[j])] = (s, m, s - m)
    return out


def union_find_groups(nodes, edges) -> dict[int, int]:
    """Connected components labelled by their smallest member."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


# ------------------------------------------------------------------ queries

def visible(iso: pd.DataFrame, private: pd.DataFrame, projects: pd.DataFrame,
            role: str, user_id: int, project_ids: list[int], today: str
            ) -> pd.DataFrame:
    """Rows a role may see: latest versions; admins see all of them,
    everyone else public rows, rows whose embargo has passed, and (when
    logged in) their own rows and rows of their projects."""
    df = iso[iso["new_version"].isna()]
    if role == "admin":
        return df
    priv = private.set_index("isolate_id")
    owner = df["id"].map(priv["owner_id"])
    embargo = df["id"].map(priv["embargo_date"])
    ok = owner.isna() | (embargo.fillna("9999-12-31") <= today)
    if role == "user":
        ok |= owner == user_id
        mine = set(projects.loc[projects["project_id"].isin(project_ids),
                                "isolate_id"])
        ok |= df["id"].isin(mine)
    return df[ok.to_numpy()]


def search_page(view: pd.DataFrame, body: dict) -> list[int]:
    """Case-insensitive equality and typed comparison, ordered by the
    sort field with id as the final tiebreak, then one page."""
    df = view
    for key, raw in body.items():
        if not key.startswith("field."):
            continue
        col = key.split(".", 1)[1]
        if isinstance(raw, dict):
            op, value = raw["operator"], raw["value"]
        else:
            op, value = "=", raw
        if op == "=":
            df = df[df[col].astype(str).str.upper() == str(value).upper()]
        elif op == ">=":
            df = df[df[col] >= value]
        else:
            raise ValueError(op)
    sort = body.get("sort", "id")
    field, asc = sort.lstrip("-"), not sort.startswith("-")
    if field == "id":
        df = df.sort_values("id", ascending=asc)
    else:
        df = df.sort_values([field, "id"], ascending=[asc, True])
    size = body["page_size"]
    start = (body["page"] - 1) * size
    return [int(v) for v in df["id"].iloc[start:start + size]]


def crosstab(view: pd.DataFrame, f1: str, f2: str) -> dict:
    counts = view.groupby([f1, f2]).size()
    row = counts.groupby(level=0).sum()
    total = counts.sum()
    return {
        (a, b): (int(n), n * 100.0 / row[a], n * 100.0 / total)
        for (a, b), n in counts.items()
    }


def md5_upper(seq: str) -> str:
    return hashlib.md5(seq.upper().encode()).hexdigest()
