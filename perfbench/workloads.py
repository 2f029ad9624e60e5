"""The benchmark's three workloads.

Each workload turns ``(seed, pass number)`` into the same list of operation
shapes on every pass; only the constants inside the statements change.  An
operation's ``build`` returns either a DataFrame, which the harness
collects, or a plain value.  ``check`` runs after the timed passes and
returns an error message, or None when the result is right.
"""

from __future__ import annotations

import math
import os
import zlib
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np


@dataclass
class Op:
    name: str                    # the operation's shape; the same every pass
    kind: str                    # "bql", "registry" or "call"
    build: Callable[[], Any]
    check: Callable[[dict, Any], str | None] | None = None
    after: Callable[[], Any] | None = None   # untimed state capture


def duck(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def _num(v) -> float | None:
    return None if v is None else float(v)


def same_rows(got: tuple[list, list], want: tuple[list, list],
              tol: float = 1e-6) -> str | None:
    """Order-insensitive comparison of two results; floats to ``tol``."""
    (gcols, grows), (wcols, wrows) = got, want
    if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows, expected {len(wrows)}"

    def key(r):
        return tuple((0, round(v, 4)) if isinstance(v, float) else (1, str(v))
                     for v in r)

    for g, w in zip(sorted(grows, key=key), sorted(wrows, key=key)):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                a, b = _num(a), _num(b)
                if a is None or b is None or abs(a - b) > tol * max(1.0, abs(b)):
                    return f"value {a} != {b}"
            elif a != b:
                return f"value {a!r} != {b!r}"
    return None


def col(rec: dict, name: str) -> list:
    cols, rows = rec["result"]
    i = [c.lower() for c in cols].index(name.lower())
    return [r[i] for r in rows]


def in_range(vals, lo: float, hi: float, what: str) -> str | None:
    for v in vals:
        if v is None or not math.isfinite(v) or not lo <= v <= hi:
            return f"{what} = {v} outside [{lo}, {hi}]"
    return None


def first_error(*errs: str | None) -> str | None:
    return next((e for e in errs if e), None)


def n_rows(rec: dict) -> int:
    return len(rec["result"][1])


def expect_rows(rec: dict, n: int) -> str | None:
    return None if n_rows(rec) == n else f"{n_rows(rec)} rows, expected {n}"


class Workload:
    name = ""

    def __init__(self, seed: int, spark, sf_dir: str, work_dir: str):
        self.seed = seed
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir

    def rng(self, pass_no: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, pass_no])

    def distinct(self, key: str, pass_no: int, n: int) -> int:
        """An index in ``range(n)`` that no other pass of the run draws for
        ``key`` (a seeded permutation), so no statement text repeats."""
        if pass_no >= n:
            raise ValueError(f"{key}: only {n} distinct values for pass {pass_no}")
        perm = np.random.default_rng([self.seed, zlib.crc32(key.encode())])
        return int(perm.permutation(n)[pass_no])

    def setup(self) -> dict[str, float]:
        """Build the workload's fixture; returns per-layer setup seconds."""
        return {}

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def verify(self, records: list[dict], con) -> None:
        """Set ``rec["error"]`` on every record whose result is wrong."""
        for rec in records:
            op = rec["op_obj"]
            if rec["error"] is None and op.check is not None:
                rec["error"] = op.check(rec, con)


# ---------------------------------------------------------------------------
class BqlQuery(Workload):
    """Read path against the fitted fixture ensemble (model_queries)."""

    name = "bql-query"

    def setup(self) -> dict[str, float]:
        import time

        from bayeslite_spark.model_queries import engine_for

        t0 = time.perf_counter()
        self.eng = engine_for(self.spark, self.sf_dir)
        return {"engine.fixture_fit_s": time.perf_counter() - t0}

    def ops(self, pass_no: int) -> list[Op]:
        # every statement carries one constant drawn with distinct(); the
        # other constants come from the pass's generator
        r = self.rng(pass_no)

        def bql(name, text, check):
            return Op(name, "bql", lambda: self.eng.execute(text), check)

        def distinct(key, n):
            return self.distinct(key, pass_no, n)

        d = round(0.035 + distinct("select", 200) / 1e4, 4)
        select_sql = (
            "SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 6) "
            f"AS avg_qty FROM lineitem WHERE l_discount > {d} "
            "GROUP BY l_returnflag")

        a, b = r.choice(["l_quantity", "l_extendedprice", "l_discount",
                         "l_tax"], 2, replace=False)
        v = round(20 + distinct("estimate_by", 10000) / 1e3, 3)
        corr_bql = (f"ESTIMATE CORRELATION OF {a} WITH {b} AS corr, "
                    f"PROBABILITY DENSITY OF l_quantity = {v} AS density "
                    "BY pop_li")
        corr_sql = (f"SELECT corr({a}, {b})^2 AS corr FROM lineitem "
                    f"WHERE {a} IS NOT NULL AND {b} IS NOT NULL")

        def check_corr(rec, con):
            want = duck(con, corr_sql)[1][0][0]
            got = col(rec, "corr")
            return first_error(
                expect_rows(rec, 1),
                None if abs(got[0] - want) <= 1e-6 else f"corr {got[0]} != {want}",
                in_range(col(rec, "density"), 1e-300, math.inf, "density"))

        i = distinct("dependence_by", 60)
        c = ["l_extendedprice", "l_discount", "l_tax"][i % 3]
        n_mi = 90 + i // 3
        dep_bql = (f"ESTIMATE DEPENDENCE PROBABILITY OF l_quantity WITH {c} "
                   f"AS dep, MUTUAL INFORMATION OF l_quantity WITH {c} "
                   f"USING {n_mi} SAMPLES AS mi BY pop_li")

        key = 700 + distinct("predictive_probability", 100)
        lim = int(r.integers(450, 550))
        pp_bql = ("ESTIMATE l_orderkey, l_linenumber, PREDICTIVE PROBABILITY "
                  f"OF l_quantity AS pp FROM pop_li WHERE l_orderkey < {key} "
                  f"LIMIT {lim}")

        def check_pp(rec, con):
            n = duck(con, f"SELECT count(*) FROM lineitem WHERE l_orderkey < {key}")[1][0][0]
            return first_error(expect_rows(rec, min(n, lim)),
                               # a log density: finite means density > 0
                               in_range(col(rec, "pp"), -1e300, 1e300, "pp"))

        n_pair = 130 + distinct("pairwise_columns", 40)
        pair_bql = ("ESTIMATE DEPENDENCE PROBABILITY AS dep, MUTUAL INFORMATION "
                    f"USING {n_pair} SAMPLES AS mi FROM PAIRWISE COLUMNS OF pop_cc")

        t = round(0.65 + distinct("pairwise_similarity", 1000) / 1e4, 4)
        lim_sim = int(r.integers(180, 220))
        sim_bql = ("ESTIMATE SIMILARITY IN THE CONTEXT OF s_acctbal AS sim "
                   f"FROM PAIRWISE pop_sim WHERE sim >= {t} "
                   f"ORDER BY sim DESC, rowid0, rowid1 LIMIT {lim_sim}")

        n_nig = 450 + distinct("simulate_nig", 100)
        n_cc = 270 + distinct("simulate_crosscat", 60)
        rowid = 1 + distinct("simulate_given_rowid", 99)
        n_row = int(r.integers(90, 110))
        n_mod = int(r.integers(180, 220))
        dens = 500 + distinct("simulate_models", 7000)
        models_bql = (f"SIMULATE MUTUAL INFORMATION OF c_acctbal WITH c_nationkey "
                      f"USING {n_mod} SAMPLES AS mi, DEPENDENCE PROBABILITY OF "
                      "c_acctbal WITH c_nationkey AS dep, PROBABILITY DENSITY OF "
                      f"c_acctbal = {dens} AS density FROM MODELS OF pop_cc")
        n_models = len(self.eng.catalog.generator("gen_cc").models)

        ck = 180 + distinct("infer_explicit", 40)
        infer_bql = ("INFER EXPLICIT c_custkey, PREDICT c_mktsegment AS seg "
                     f"CONFIDENCE seg_conf FROM pop_cust WHERE c_custkey <= {ck}")

        def check_infer(rec, con):
            n = duck(con, f"SELECT count(*) FROM customer WHERE c_custkey <= {ck}")[1][0][0]
            nulls = sum(s is None for s in col(rec, "seg"))
            return first_error(expect_rows(rec, n),
                               f"{nulls} NULL predictions" if nulls else None,
                               in_range(col(rec, "seg_conf"), 0, 1, "confidence"))

        n_reg = 180 + distinct("regress", 40)
        regress_bql = ("REGRESS c_acctbal GIVEN (c_nationkey, c_mktsegment) "
                       f"USING {n_reg} SAMPLES BY pop_cc")

        q = int(r.integers(20, 40))
        h = 100 + distinct("estimate_group_by", 1900)
        group_bql = ("ESTIMATE l_returnflag, COUNT(*) AS n, ROUND(AVG(l_quantity), 6) "
                     f"AS avg_qty FROM pop_li WHERE l_quantity <= {q} "
                     f"GROUP BY l_returnflag HAVING COUNT(*) > {h} ORDER BY l_returnflag")
        group_sql = ("SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 6) "
                     f"AS avg_qty FROM lineitem WHERE l_quantity <= {q} "
                     f"GROUP BY l_returnflag HAVING count(*) > {h}")

        def open_saved():
            from bayeslite_spark.engine import SparkBQL
            from bayeslite_spark.model_queries import _artifact_dir

            return SparkBQL.open(self.spark, _artifact_dir(self.sf_dir),
                                 seed=self.eng.seed)

        def check_open(rec, con):
            want = {g: len(x.models) for g, x in self.eng.catalog.generators.items()}
            got = {g: len(x.models)
                   for g, x in rec["result"].catalog.generators.items()}
            return None if got == want else f"reopened models {got} != {want}"

        return [
            Op("open_saved", "call", open_saved, check_open),
            bql("select", select_sql,
                lambda rec, con: same_rows(rec["result"], duck(con, select_sql))),
            bql("estimate_by", corr_bql, check_corr),
            bql("dependence_by", dep_bql, lambda rec, con: first_error(
                expect_rows(rec, 1), in_range(col(rec, "dep"), 0, 1, "dep"),
                in_range(col(rec, "mi"), -1e-9, math.inf, "mi"))),
            bql("predictive_probability", pp_bql, check_pp),
            bql("pairwise_columns", pair_bql, lambda rec, con: first_error(
                expect_rows(rec, 9), in_range(col(rec, "dep"), 0, 1, "dep"))),
            bql("pairwise_similarity", sim_bql, lambda rec, con: first_error(
                None if n_rows(rec) <= lim_sim else "more rows than LIMIT",
                in_range(col(rec, "sim"), t, 1, "sim"))),
            bql("simulate_nig", "SIMULATE l_quantity, l_extendedprice, l_returnflag "
                f"FROM pop_li LIMIT {n_nig}",
                lambda rec, con: expect_rows(rec, n_nig)),
            bql("simulate_crosscat", "SIMULATE c_acctbal, c_nationkey, c_mktsegment "
                f"FROM pop_cc LIMIT {n_cc}", lambda rec, con: expect_rows(rec, n_cc)),
            bql("simulate_given_rowid", "SIMULATE c_acctbal, c_mktsegment FROM pop_cc "
                f"GIVEN rowid = {rowid} LIMIT {n_row}",
                lambda rec, con: expect_rows(rec, n_row)),
            bql("simulate_models", models_bql, lambda rec, con: first_error(
                expect_rows(rec, n_models), in_range(col(rec, "dep"), 0, 1, "dep"),
                in_range(col(rec, "density"), 1e-300, math.inf, "density"))),
            bql("infer_explicit", infer_bql, check_infer),
            bql("regress", regress_bql, lambda rec, con: first_error(
                None if n_rows(rec) else "no coefficients",
                in_range([x for row in rec["result"][1] for x in row
                          if isinstance(x, float)], -1e300, 1e300,
                         "coefficient"))),
            bql("estimate_group_by", group_bql,
                lambda rec, con: same_rows(rec["result"], duck(con, group_sql))),
        ]


# ---------------------------------------------------------------------------
class BqlModel(Workload):
    """Write path: fit, verify, persist, reopen and drop a model per cycle."""

    name = "bql-model"

    def setup(self) -> dict[str, float]:
        from bayeslite_spark.engine import SparkBQL
        from bayeslite_spark.session import load_tables

        self.eng = SparkBQL(self.spark, seed=self.seed % 2**31)
        for name, df in load_tables(self.spark, self.sf_dir).items():
            self.eng.register_table(name, df)
        return {}

    def _cycle(self, r: np.random.Generator, c: int, nig: bool) -> list[Op]:
        from bayeslite_spark.engine import SparkBQL

        eng, spark = self.eng, self.spark
        tab, pop, gen = f"m{c}", f"p{c}", f"g{c}"
        mod = int(r.integers(15, 25))
        rem = int(r.integers(0, mod))
        k, iters = (4, 2) if nig else (3, 1)
        if nig:
            src = ("SELECT l_quantity, l_extendedprice, l_discount, l_returnflag "
                   f"FROM lineitem WHERE l_orderkey % {mod} = {rem}")
            schema = ("l_quantity NUMERICAL; l_extendedprice NUMERICAL; "
                      "l_discount NUMERICAL; l_returnflag NOMINAL")
            v = round(float(r.uniform(5, 45)), 3)
            est = (f"ESTIMATE PROBABILITY DENSITY OF l_quantity = {v} AS density, "
                   "DEPENDENCE PROBABILITY OF l_quantity WITH l_extendedprice "
                   f"AS dep BY {pop}")
        else:
            src = ("SELECT c_acctbal, c_nationkey, c_mktsegment FROM customer "
                   f"WHERE (c_custkey + {rem}) % {mod} < 5")
            schema = ("c_acctbal NUMERICAL; c_nationkey NUMERICAL; "
                      "c_mktsegment NOMINAL")
            v = round(float(r.uniform(0, 8000)), 2)
            est = (f"ESTIMATE PROBABILITY DENSITY OF c_acctbal = {v} AS density, "
                   "DEPENDENCE PROBABILITY OF c_acctbal WITH c_nationkey "
                   f"AS dep BY {pop}")
        path = os.path.join(self.work_dir, f"saved_{c}")
        reopened = {}

        def bql(name, text, check=None, after=None):
            return Op(name, "bql", lambda: eng.execute(text), check, after)

        def check_table(rec, con):
            n = duck(con, f"SELECT count(*) FROM ({src})")[1][0][0]
            return None if rec["extra"] == n else f"table has {rec['extra']} rows, expected {n}"

        def check_estimate(rec, con):
            return first_error(expect_rows(rec, 1),
                               in_range(col(rec, "density"), 1e-300, math.inf, "density"),
                               in_range(col(rec, "dep"), 0, 1, "dep"))

        def do_open():
            reopened["eng"] = SparkBQL.open(spark, path, seed=eng.seed)
            reopened["eng"].register_table(tab, eng.table(tab))
            return None

        def check_reopened(rec, con):
            fresh = rec["fresh"]
            if fresh["error"] is None and rec["result"] != fresh["result"]:
                return (f"estimates changed across save/open: "
                        f"{fresh['result'][1]} -> {rec['result'][1]}")
            return None

        kind = "nig" if nig else "crosscat"
        return [
            bql("create_table_as", f"CREATE TABLE {tab} AS {src}", check_table,
                after=lambda: eng.table(tab).count()),
            bql("create_population", f"CREATE POPULATION {pop} FOR {tab} ({schema})"),
            bql(f"create_generator_{kind}", f"CREATE GENERATOR {gen} FOR {pop} USING "
                + ("nig_normal" if nig else "crosscat_lite")),
            bql(f"initialize_{kind}", f"INITIALIZE {k} MODELS FOR {gen}",
                lambda rec, con: None if rec["extra"] == k
                else f"{rec['extra']} models after INITIALIZE {k}",
                after=lambda: len(eng.catalog.generator(gen).models)),
            bql(f"analyze_{kind}", f"ANALYZE {gen} FOR {iters} ITERATIONS"),
            bql("estimate", est, check_estimate),
            Op("save", "call", lambda: eng.save(path)),
            Op("open", "call", do_open),
            Op("estimate_reopened", "bql", lambda: reopened["eng"].execute(est),
               check_reopened),
            bql("drop_generator", f"DROP GENERATOR {gen}"),
            bql("drop_population", f"DROP POPULATION {pop}"),
            bql("drop_table", f"DROP TABLE {tab}"),
        ]

    def ops(self, pass_no: int) -> list[Op]:
        r = self.rng(pass_no)
        return (self._cycle(r, 2 * pass_no, nig=True)
                + self._cycle(r, 2 * pass_no + 1, nig=False))

    def verify(self, records: list[dict], con) -> None:
        # the reopened engine's estimate is compared with its cycle's own
        fresh = None
        for rec in records:
            if rec["op"] == "estimate":
                fresh = rec
            elif rec["op"] == "estimate_reopened":
                rec["fresh"] = fresh
        super().verify(records, con)


# ---------------------------------------------------------------------------
# One registered query per module, the cheapest that has a DuckDB oracle
# where the module has one; queries tagged bql-engine belong to bql-query.
REGISTRY_SAMPLE = (
    "q01_pricing_summary",            # workload (relational core)
    "q17_guess_schema",               # functions.stats_queries
    "r144_forecast_revenue_change",   # operators.analytics_queries
    "x66_bpe_merges",                 # operators.bpe
    "r31_fd_audit",                   # operators.corpus_stats
    "q30_dedup_exact",                # operators.dedup
    "r34_dow_seasonality",            # operators.events_queries
    "x62_multimodal_frames",          # operators.multimodal
    "q38_train_shuffle",              # operators.pipeline
    "q82_k_anonymity",                # operators.privacy
    "x70_quality_model",              # operators.quality_model (prefit)
    "r127_embedding_norm_histogram",  # operators.similarity
    "r59_salted_enrich",              # operators.skew
    "r11_rag_chunks",                 # operators.spans
    "q23_fingerprint",                # operators.text
    "x84_storage_audit",              # sources.storage_audit
)


class Registry(Workload):
    """Batch analytics: registered workload queries, checked against DuckDB."""

    name = "registry"

    def setup(self) -> dict[str, float]:
        import time

        from bayeslite_spark.operators.quality_model import prefit_quality_model
        from bayeslite_spark.workload import REGISTRY, _import_all

        _import_all()
        self.queries = {n: REGISTRY[n] for n in REGISTRY_SAMPLE}
        t0 = time.perf_counter()
        prefit_quality_model(self.spark, self.sf_dir)
        return {"operators.fixture_s": time.perf_counter() - t0}

    def ops(self, pass_no: int) -> list[Op]:
        spark, sf = self.spark, self.sf_dir
        return [Op(name, "registry", lambda q=q: q.fn(spark, sf))
                for name, q in self.queries.items()]

    def verify(self, records: list[dict], con) -> None:
        from check_oracle import value_hash

        by_name: dict[str, list[dict]] = {}
        for rec in records:
            by_name.setdefault(rec["op"], []).append(rec)
        for name, recs in by_name.items():
            oracle = self.queries[name].oracle
            want = None
            if oracle is not None:
                ocols, orows = duck(con, oracle)
                want = (len(orows), sorted(ocols), value_hash(ocols, orows))
            first = None
            for rec in recs:
                if rec["error"] is not None:
                    continue
                cols, rows = rec["result"]
                got = (len(rows), sorted(cols), value_hash(cols, rows))
                if want is not None and got != want:
                    rec["error"] = (f"oracle mismatch: {got[0]} rows "
                                    f"(oracle {want[0]}), hashes differ")
                elif want is None and not rows:
                    rec["error"] = "empty result"
                elif want is None:
                    first = first or got
                    if got != first:
                        rec["error"] = "result differs from the first pass"


WORKLOADS = {w.name: w for w in (BqlQuery, BqlModel, Registry)}
