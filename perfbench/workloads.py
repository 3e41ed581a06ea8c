"""The two workloads: inputs loaded into Spark, one round of operations,
and the checks of every operation's output.

Each operation calls the program's public functions and collects their
results; a layer span (see spans.py) covers each call together with the
action that materializes its result.  Upstream frames are lazy, so work
a downstream call depends on runs again inside its span, as it does for
any caller of the public API.
"""

from __future__ import annotations

import datetime
import hashlib
import os
from dataclasses import dataclass
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen


@dataclass
class Op:
    kind: str
    items: int
    fn: Callable[[], object]
    key: int  # index of the operation in its round: equal keys, equal inputs


_ARROW = {"long": pa.int64(), "int": pa.int32(), "string": pa.string(),
          "date": pa.date32(), "double": pa.float64()}


def _arrow_type(t: str):
    if t.startswith("array<"):
        return pa.list_(_arrow_type(t[6:-1]))
    return _ARROW[t]


def _date(iso: str) -> datetime.date:
    return datetime.date.fromisoformat(iso)


class Tables:
    """Generated tables, written as parquet before the session starts and
    read back through the program's own source layer."""

    def __init__(self, root: str):
        self.root = root
        self.pending: dict[str, tuple] = {}

    def add(self, name: str, data, schema: str) -> None:
        self.pending[name] = (data, schema)

    def write(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        for name, (data, schema) in self.pending.items():
            cols = [c.split(" ", 1) for c in schema.split(", ")]
            if not isinstance(data, dict):
                data = {c: list(v) for (c, _), v in zip(cols, zip(*data))} if data else {
                    c: [] for c, _ in cols}
            table = pa.table({c: pa.array(data[c], type=_arrow_type(t)) for c, t in cols})
            pq.write_table(table, os.path.join(self.root, f"{name}.parquet"))
        self.pending.clear()

    def load(self, spark, name: str):
        from bigsdb_spark.sources.tables import load_table

        return load_table(spark, self.root, name)


# ------------------------------------------------------------------ typing

class TypingBatch:
    """Types one submission batch per operation: md5 and membership ST
    assignment on a 7-locus MLST and a 96-locus cgMLST warehouse, then
    classification groups by single linkage over cgMLST distances."""

    name = "typing_batch"
    # after one cold batch the profile legs are still warming up: the next
    # three batches fell from 6.2 to 5.2 s, so both batches run untimed first
    warm_whole_round = True

    def __init__(self, seed: int, data_dir: str):
        self.inp = inp = gen.make_typing(seed)
        self.tables = t = Tables(data_dir)
        for s in (inp.mlst, inp.cg):
            t.add(f"defs_{s.name}", {
                "st": s.sts, "profile": s.profiles,
                "profile_md5": [s.md5(i) for i in range(len(s.sts))]},
                "st long, profile array<string>, profile_md5 string")
        long_schema = "isolate_id long, locus string, allele_id string"
        pos_schema = "profile_key long, pos int, allele string"
        for i, b in enumerate(inp.batches):
            for s in (inp.mlst, inp.cg):
                rows = [r for r in b.rows if r[1].startswith(s.name)]
                t.add(f"batch{i}_{s.name}_long", rows, long_schema)
                t.add(f"batch{i}_{s.name}_pos", gen.positional(rows, s), pos_schema)
            t.add(f"batch{i}_nodes", {"id": b.ids}, "id long")

    def load(self, spark, tracer) -> None:
        self.spark, self.tr = spark, tracer
        t = self.tables
        self.mlst_defs = t.load(spark, "defs_MLST")
        self.cg_defs = t.load(spark, "defs_CG")
        self.frames = [
            {k: t.load(spark, f"batch{i}_{k}") for k in (
                "MLST_long", "CG_long", "MLST_pos", "CG_pos", "nodes")}
            for i in range(len(self.inp.batches))]

    def ops(self) -> list[Op]:
        return [Op("type_batch", len(b.ids), lambda i=i: self._type(i), i)
                for i, b in enumerate(self.inp.batches)]

    def _type(self, i: int) -> dict:
        from bigsdb_spark.operators import clustering, profiles

        f, tr, out = self.frames[i], self.tr, {}
        with tr.span("profiles.build_profiles"):
            prof = profiles.build_profiles(f["MLST_long"], "isolate_id", "locus",
                                           "allele_id")
            out["profiles"] = [(r.profile_key, list(r.profile), r.profile_md5)
                               for r in prof.collect()]
        with tr.span("profiles.assign_exact"):
            out["exact"] = profiles.assign_scheme_fields(prof, self.mlst_defs).collect()
        with tr.span("profiles.assign_multi_mlst"):
            out["multi_mlst"] = profiles.assign_scheme_fields_multi(
                f["MLST_pos"], self.mlst_defs, gen.MLST_LOCI,
                allow_missing_loci=True).collect()
        with tr.span("profiles.assign_multi_cg"):
            out["multi_cg"] = profiles.assign_scheme_fields_multi(
                f["CG_pos"], self.cg_defs, gen.CG_LOCI,
                allow_missing_loci=True).collect()
        with tr.span("profiles.pair_distances"):
            dist = profiles.profile_pair_distances(f["CG_long"], "isolate_id",
                                                   "locus", "allele_id")
            out["dist"] = dist.collect()
        with tr.span("clustering.single_linkage"):
            edges = profiles.matching_profiles(dist, gen.CG_LOCI,
                                               gen.CLUSTER_MAX_MISMATCH)
            out["groups"] = clustering.single_linkage(
                edges.select("id1", "id2"), f["nodes"]).collect()
        tr.count("profiles.assignments", len(out["exact"]) + len(out["multi_mlst"])
                 + len(out["multi_cg"]))
        tr.count("clustering.edges", sum(
            r.matched >= gen.CG_LOCI - gen.CLUSTER_MAX_MISMATCH for r in out["dist"]))
        return out

    def reference(self, i: int) -> dict:
        inp, b = self.inp, self.inp.batches[i]
        mlst_rows = [r for r in b.rows if r[1].startswith("MLST")]
        cg_rows = [r for r in b.rows if r[1].startswith("CG")]
        per: dict[int, list] = {}
        for iso, locus, allele in mlst_rows:
            per.setdefault(iso, []).append((locus, allele))
        profs = {iso: [a for _, a in sorted(p)] for iso, p in per.items()}
        defs = {",".join(p): st for st, p in zip(inp.mlst.sts, inp.mlst.profiles)}
        dist = checks.pair_distances(cg_rows, inp.cg.loci)
        cut = gen.CG_LOCI - gen.CLUSTER_MAX_MISMATCH
        return dict(
            profiles={iso: (p, hashlib.md5(",".join(p).encode()).hexdigest())
                      for iso, p in profs.items()},
            exact=checks.exact_sts(mlst_rows, inp.mlst.loci, defs),
            multi_mlst=checks.membership_sts(gen.positional(mlst_rows, inp.mlst),
                                             inp.mlst.profiles, inp.mlst.sts, True),
            multi_cg=checks.membership_sts(gen.positional(cg_rows, inp.cg),
                                           inp.cg.profiles, inp.cg.sts, True),
            dist=dist,
            groups=checks.union_find_groups(
                b.ids, [p for p, (_, m, _) in dist.items() if m >= cut]),
        )

    def check(self, key: int, out: dict, ref: dict) -> list[str]:
        bad = []
        got = {k: (p, m) for k, p, m in out["profiles"]}
        if got != ref["profiles"]:
            bad.append("build_profiles vectors or md5 differ")
        for name in ("exact", "multi_mlst", "multi_cg"):
            if {(r.profile_key, r.st) for r in out[name]} != ref[name]:
                bad.append(f"{name} assignments differ")
        if {(r.id1, r.id2): (r.shared, r.matched, r.hamming)
                for r in out["dist"]} != ref["dist"]:
            bad.append("pair distances differ")
        if {r.id: r.group_id for r in out["groups"]} != ref["groups"]:
            bad.append("single-linkage groups differ")
        return bad


# ------------------------------------------------------------------ queries

class IsolateQueries:
    """Interactive REST-style requests against role-filtered views."""

    name = "isolate_queries"
    warm_whole_round = False
    base = "https://bigsdb.example/db/test"

    def __init__(self, seed: int, data_dir: str):
        self.inp = inp = gen.make_queries(seed)
        self.tables = t = Tables(data_dir)
        iso = dict(inp.isolates)
        for c in ("date_entered", "datestamp"):
            iso[c] = [_date(d) for d in iso[c]]
        t.add("isolates", iso, (
            "id long, isolate string, country string, species string, "
            "source string, year long, date_entered date, datestamp date, "
            "new_version long"))
        t.add("private", [(i, o, e and _date(e)) for i, o, e in inp.private],
              "isolate_id long, owner_id long, embargo_date date")
        t.add("projects", inp.projects, "project_id long, isolate_id long")
        t.add("designations", inp.designations,
              "isolate_id long, locus string, allele_id string")
        t.add("designations_pos", gen.positional(inp.designations, inp.mlst),
              "profile_key long, pos int, allele string")
        m = inp.mlst
        t.add("scheme", {
            "st": m.sts, "profile": m.profiles,
            "profile_md5": [m.md5(i) for i in range(len(m.sts))],
            "datestamp": [_date(d) for d in inp.st_dates],
        }, "st long, profile array<string>, profile_md5 string, datestamp date")
        t.add("alleles", inp.alleles, "locus string, allele_id string, sequence string")
        self.ref_iso = pd.DataFrame(inp.isolates)
        self.ref_private = pd.DataFrame(inp.private, columns=[
            "isolate_id", "owner_id", "embargo_date"])
        self.ref_projects = pd.DataFrame(inp.projects, columns=["project_id", "isolate_id"])

    def load(self, spark, tracer) -> None:
        from bigsdb_spark.registry import FieldDef, TableDef

        self.spark, self.tr = spark, tracer
        self.table = TableDef("isolates", [
            FieldDef("id", "int"), FieldDef("isolate"), FieldDef("country"),
            FieldDef("species"), FieldDef("source"), FieldDef("year", "int"),
            FieldDef("date_entered", "date"), FieldDef("datestamp", "date"),
        ])
        for name in ("isolates", "private", "projects", "designations",
                     "designations_pos", "scheme", "alleles"):
            setattr(self, name, self.tables.load(spark, name))

    def ops(self) -> list[Op]:
        return [Op(r["kind"], 1, lambda r=r: self._request(r), k)
                for k, r in enumerate(self.inp.requests)]

    def _view(self, r: dict):
        from bigsdb_spark.views import UserContext, make_view

        user = {"public": UserContext(),
                "user": UserContext(user_id=r["user_id"], project_ids=r["project_ids"]),
                "admin": UserContext(admin=True)}[r["role"]]
        with self.tr.span("views.make_view"):
            return make_view(self.isolates, user, self.private, self.projects,
                             today=gen.TODAY)

    def _request(self, r: dict):
        from bigsdb_spark.operators import breakdown, profiles
        from bigsdb_spark.plans import queryspec, rest
        from bigsdb_spark.sequence_query import sequence_query

        tr, kind = self.tr, r["kind"]
        if kind == "search":
            view = self._view(r)
            with tr.span("rest.search"):
                with tr.span("plans.construct"):
                    q = rest.parse_search(r["body"], self.table)
                    df = queryspec.run_query(view, q.spec)
                    df._jdf.queryExecution().analyzed()
                with tr.span("plans.execute"):
                    return [row.id for row in df.collect()]
        if kind == "isolates_list":
            view = self._view(r)
            with tr.span("rest.isolates_list"):
                return rest.route_isolates_list(
                    view, self.base, page=r["page"], page_size=gen.PAGE_SIZE,
                    date_entered_col="date_entered", datestamp_col="datestamp")
        if kind == "field_breakdown":
            view = self._view(r)
            with tr.span("rest.field_breakdown"):
                return rest.route_field_breakdown(view, self.table, r["field"])
        if kind == "crosstab":
            view = self._view(r)
            with tr.span("breakdown.crosstab_pct"):
                return breakdown.crosstab_pct(view, *r["fields"]).collect()
        if kind == "profiles_list":
            with tr.span("rest.profiles_list"):
                return rest.route_profiles_list(self.scheme, 1, self.base, "st",
                                                page=r["page"], page_size=gen.PAGE_SIZE)
        if kind == "scheme_designations":
            with tr.span("rest.scheme_designations"):
                return rest.route_scheme_designations_query(
                    self.spark, {"designations": r["designations"]},
                    self.inp.mlst.loci, self.scheme)
        if kind == "isolate_st":
            from pyspark.sql import functions as F

            with tr.span("profiles.single_isolate_st"):
                iid = r["isolate_id"]
                prof = profiles.build_profiles(
                    self.designations.filter(F.col("isolate_id") == iid),
                    "isolate_id", "locus", "allele_id").collect()
                sts = profiles.assign_scheme_fields_multi(
                    self.designations_pos.filter(F.col("profile_key") == iid),
                    self.scheme, gen.MLST_LOCI, allow_missing_loci=True).collect()
                return ([list(p.profile) for p in prof], sorted(s.st for s in sts))
        if kind == "sequence":
            with tr.span("seqmatch.sequence_query"):
                res = sequence_query(self.spark, r["sequences"], self.alleles)
                return sorted((m.query_id, m.locus, m.allele_id)
                              for m in res["matches"].collect())
        raise ValueError(kind)

    def reference(self, key: int):
        r, inp = self.inp.requests[key], self.inp
        kind = r["kind"]
        view = None
        if kind in ("search", "isolates_list", "field_breakdown", "crosstab"):
            view = checks.visible(self.ref_iso, self.ref_private, self.ref_projects,
                                  r["role"], r["user_id"], r["project_ids"], gen.TODAY)
        if kind == "search":
            return checks.search_page(view, r["body"])
        if kind == "isolates_list":
            ids = sorted(view["id"])
            start = (r["page"] - 1) * gen.PAGE_SIZE
            return dict(records=len(ids), last_added=view["date_entered"].max(),
                        last_updated=view["datestamp"].max(),
                        isolates=[f"{self.base}/isolates/{i}"
                                  for i in ids[start:start + gen.PAGE_SIZE]])
        if kind == "field_breakdown":
            return {str(k): int(v) for k, v in view[r["field"]].value_counts().items()}
        if kind == "crosstab":
            return checks.crosstab(view, *r["fields"])
        if kind == "profiles_list":
            start = (r["page"] - 1) * gen.PAGE_SIZE
            sts = sorted(inp.mlst.sts)[start:start + gen.PAGE_SIZE]
            return dict(records=len(inp.mlst.sts), last_updated=max(inp.st_dates),
                        profiles=[f"{self.base}/schemes/1/profiles/{s}" for s in sts])
        if kind == "scheme_designations":
            vec = tuple(r["designations"][loc] for loc in sorted(inp.mlst.loci))
            hit = {tuple(p): st for st, p in zip(inp.mlst.sts, inp.mlst.profiles)}.get(vec)
            return {"fields": {"ST": hit}} if hit is not None else {}
        if kind == "isolate_st":
            rows = [d for d in inp.designations if d[0] == r["isolate_id"]]
            prof = [[a for _, a in sorted((l, a) for _, l, a in rows)]] if rows else []
            sts = checks.membership_sts(gen.positional(rows, inp.mlst),
                                        inp.mlst.profiles, inp.mlst.sts, True)
            return (prof, sorted(st for _, st in sts))
        if kind == "sequence":
            index: dict[str, list] = {}
            for locus, aid, seq in inp.alleles:
                index.setdefault(checks.md5_upper(seq), []).append((locus, aid))
            return sorted((q, l, a) for q, s in r["sequences"]
                          for l, a in index.get(checks.md5_upper(s), []))
        raise ValueError(kind)

    def check(self, key: int, out, ref) -> list[str]:
        kind = self.inp.requests[key]["kind"]
        if kind == "isolates_list":
            ok = (out["records"] == ref["records"]
                  and out["last_added"] == ref["last_added"]
                  and out["last_updated"] == ref["last_updated"]
                  and out["isolates"] == ref["isolates"])
        elif kind == "profiles_list":
            ok = (out["records"] == ref["records"]
                  and out["last_updated"] == ref["last_updated"]
                  and out["profiles"] == ref["profiles"])
        elif kind == "crosstab":
            got = {(r[0], r[1]): (r.n, r.pct_row, r.pct_total) for r in out}
            ok = got.keys() == ref.keys() and all(
                got[k][0] == ref[k][0]
                and abs(got[k][1] - ref[k][1]) <= 5.1e-5
                and abs(got[k][2] - ref[k][2]) <= 5.1e-5 for k in ref)
        else:
            ok = out == ref
        return [] if ok else [f"request {key} ({kind}) response differs"]


WORKLOADS = {w.name: w for w in (TypingBatch, IsolateQueries)}
