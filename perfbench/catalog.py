"""The catalog workload: an ordered pass over analyst-facing keys.

Set-up generates the ten input tables from the seed (``catgen``) and
runs one warm-up pass that also checks every key: the bounded digest of
``tools/digest_check.py`` (row count plus per-column sums, lengths and
distinct counts) over the key's result must equal the same digest over
its DuckDB ``oracle_sql()``.
Each timed pass starts from released result caches and times every key
to ``.count()``; its row count must equal the checked one.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import duckdb

from abr_etl_spark.functions import cache
from abr_etl_spark.sources.lake import TPCH_TABLES
from perfbench import catgen
from perfbench.trace import Usage, total
from tools.digest_check import MOD, _digest_exprs

KEYS = (
    "q3_shipping_priority",
    "association_rules",
    "rule_conviction",
    "doc_idf_profile",
    "doc_boilerplate_simpson",
)


def _same(got, want, inexact: set[str]) -> bool:
    """Equal digests.  The columns in ``inexact`` sum doubles rounded to
    cents; the engines add in different orders, so a row near a half
    cent may round either way: up to one cent per thousand rows may
    differ there."""
    if set(got) != set(want):
        return False
    tol = max(1, int(got["d_count"]) // 1000)
    for k in got:
        if str(got[k]) == str(want[k]):
            continue
        if k not in inexact:
            return False
        try:
            d = (int(got[k]) - int(want[k])) % MOD
        except (TypeError, ValueError):  # one side is NULL
            return False
        if min(d, MOD - d) > tol:
            return False
    return True


@dataclass
class Tables:
    directory: str
    bytes: int  # parquet bytes over all tables


@dataclass
class Pass:
    traced: bool
    in_bytes: int  # parquet bytes the pass reads from
    key_s: dict[str, float] = field(default_factory=dict)
    cpu_s: float = 0.0  # driver JVM + this process over the key calls
    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    usage: dict[str, Usage] = field(default_factory=dict)
    calls: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return sum(self.key_s.values())

    @property
    def op_s(self) -> float:
        return geomean(self.key_s.values())

    @property
    def written_bytes(self) -> int:
        """A pass writes no output, so this is its shuffle writes."""
        return total(self.usage)["shuffle_write"]


class CatalogWorkload:
    kind = "catalog"
    # the JVM is still warming up over the first passes (each ~20% faster
    # than the one before) and other load on the host comes in bursts,
    # so a run reports its best of three passes
    min_rounds = 3

    def __init__(self, keys=KEYS, scale: float = 1.0):
        self.keys = keys
        self.scale = scale
        self.expected_rows: dict[str, int] = {}

    def setup(self, ctx) -> tuple[Tables, int, list[str]]:
        """Generate the tables and run the checking warm-up pass:
        (tables, keys run, problems one per failed key)."""
        d = os.path.join(ctx.work, "tables")
        catgen.write(d, ctx.seed, self.scale)
        tables = Tables(d, sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)))
        return tables, len(self.keys), self._check(ctx, tables)

    def _check(self, ctx, tables: Tables) -> list[str]:
        import __spark_entry__ as entry

        qs, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TPCH_TABLES:
                path = os.path.join(tables.directory, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            problems = []
            cache.release_result_caches()
            for key in self.keys:
                try:
                    df = qs[key](ctx.spark, tables.directory)
                    sel = ", ".join(_digest_exprs(df.schema))
                    inexact = {
                        f"d_{f.name}_summod"
                        for f in df.schema.fields
                        if f.dataType.simpleString() in ("double", "float")
                    }
                    df.createOrReplaceTempView("__perfbench_digest")
                    got = ctx.spark.sql(f"SELECT {sel} FROM __perfbench_digest").collect()[0]
                    got = got.asDict()
                    want = con.sql(f"SELECT {sel} FROM ({oracles[key]})").df().iloc[0]
                    want = {k: want[k] for k in want.index}
                except Exception as exc:  # noqa: BLE001 - counted as a failure
                    problems.append(f"{key}: raised {exc!r}")
                    continue
                self.expected_rows[key] = int(got["d_count"])
                if not _same(got, want, inexact):
                    diffs = {k: (got[k], want.get(k)) for k in got if str(got[k]) != str(want.get(k))}
                    problems.append(f"{key}: digest differs from the oracle {diffs}")
        finally:
            con.close()
        return problems

    def rounds(self, ctx, tables: Tables):
        import __spark_entry__ as entry

        qs = entry.queries()
        r = 0
        while True:
            yield self._pass(ctx, qs, tables, ctx.traced_round(r))
            r += 1

    def _pass(self, ctx, qs, tables: Tables, traced) -> Pass:
        spark, status = ctx.spark, ctx.status
        p = Pass(traced=traced is not None, in_bytes=tables.bytes)
        cache.release_result_caches()
        status.take()
        with ctx.tracing(traced):
            for key in self.keys:
                p.calls += 1
                c0, t0 = ctx.cpu_s(), time.perf_counter()
                try:
                    if p.traced:
                        n = self._traced_key(traced, p, key, qs[key], spark, tables.directory)
                    else:
                        n = qs[key](spark, tables.directory).count()
                    err = None
                except Exception as exc:  # noqa: BLE001 - counted as a failure
                    err = f"{key}: raised {exc!r}"
                p.key_s[key] = time.perf_counter() - t0
                p.cpu_s += ctx.cpu_s() - c0
                for g, u in status.take().items():
                    p.usage.setdefault(g, Usage()).add(u)
                if p.traced:
                    traced.sample_storage()
                if err or n != self.expected_rows.get(key):
                    p.failed += 1
                    p.problems.append(
                        err or f"{key}: {n} rows, {self.expected_rows.get(key)} when checked"
                    )
        return p

    @staticmethod
    def _traced_key(tracer, p: Pass, key, fn, spark, directory) -> int:
        """Build, plan and execute one key under its own span and job
        group, timing each phase."""

        def phases():
            t0 = time.perf_counter()
            df = fn(spark, directory)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            n = df.count()
            t3 = time.perf_counter()
            p.build_s += t1 - t0
            p.plan_s += t2 - t1
            p.exec_s += t3 - t2
            return n

        return tracer.call(f"catalog.{key}", phases)


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0
