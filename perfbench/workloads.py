"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. Operations come in rounds; round ``r``
draws its constants from ``random.Random((seed, r))``, so a run with the
same seed replays the same operations, and every round has the same mix.
An operation's ``run`` is timed; its ``check`` runs afterwards, outside
the timed region, against the DuckDB oracle.

- ``rdf``: the read and the write path over one cached triples graph.
  Reads (``RdfQuery``): SPARQL text queries, the eight bound/unbound
  single-pattern shapes (class ``point``) and five join shapes (class
  ``join``: a 3-pattern BGP, and 2-pattern groups with OPTIONAL, FILTER
  and GROUP BY, and a property path). Writes (``RdfWrite``): two chains of
  SPARQL UPDATE statements from the base snapshot (class ``dml``), each
  statement followed by a read-back that materialises the new snapshot:
  three consecutive pattern updates (DELETE WHERE, DELETE/INSERT WHERE,
  DELETE WHERE), then INSERT DATA and DELETE DATA; then three round trips
  (class ``roundtrip``): RDF/XML, backup, and the reference's migration
  format. No table I/O after set-up.
- ``pipeline_mix``: registered analytic queries, each built and collected
  once per round: two whose cost is mostly in building the DataFrame
  (class ``build``) and two whose cost is mostly in executing it (class
  ``execute``). Every one reads its tables through ``tables.load``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import pyspark.sql.functions as F

from oracle import spark_fingerprint
from rippledb_spark.queries.triples import derive_triples
from rippledb_spark.registry import all_oracles, all_queries
from rippledb_spark.sources import rdfio
from rippledb_spark.store import TripleStore


@dataclass
class Op:
    name: str  # stable key of the operation's shape, e.g. "point.sp_"
    cls: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    seq: str = ""  # operations of one sequence depend on each other; "" = none


def _rng(seed: int, r: int) -> random.Random:
    return random.Random(seed * 1_000_003 + r)


def _named(col: str, value: str) -> str:
    """DuckDB twin of a bound pattern position over column ``col`` (``s``
    or ``o_value``, optionally table-qualified): named nodes only."""
    kind = col[: -len("o_value")] + "o_kind" if col.endswith("o_value") else col + "_kind"
    return f"{col} = '{value}' AND {kind} = 'named'"


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# "4-NOT SPECIFIED" holds a space, so it cannot be written as a bare term.
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]
PREDICATES = [
    "placed_by", "has_status", "has_priority", "contains_part",
    "in_nation", "in_segment", "has_name", "in_region",
]


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx

    def build_inputs(self) -> None:
        """One set-up of the program's inputs (timed as part of setup_s)."""
        ctx = self.ctx
        if ctx.store is not None:
            ctx.store.df.unpersist()
        df = derive_triples(ctx.spark, ctx.data_dir).persist()
        ctx.store_rows = df.count()
        ctx.store = TripleStore(ctx.spark, df)

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def warm_round(self, r: int) -> list[Op]:
        """The operations of warm-up round ``r``, run and checked before
        measuring so that every code path is compiled and every first-call
        cost is paid: by default a round like the measured ones, with
        constants of its own."""
        return self.round(r)

    def _keys(self) -> dict[str, list]:
        """Constants that exist in the generated data, read from the oracle."""
        if not hasattr(self, "_const"):
            o = self.ctx.oracle
            self._const = {
                "orders": o.rows("SELECT o_orderkey, o_custkey FROM orders ORDER BY 1"),
                "n_cust": o.rows("SELECT count(*) FROM customer")[0][0],
            }
        return self._const


# ---------------------------------------------------------------------------
# rdf: reads
# ---------------------------------------------------------------------------


class RdfQuery(Workload):
    """The read operations of ``rdf``."""

    def _queries(self, r: int) -> list[tuple[str, str, str, str]]:
        """(name, class, SPARQL text, DuckDB SQL) for round ``r``."""
        rnd = _rng(self.ctx.seed, r)
        k, c = rnd.choice(self._keys()["orders"])
        c2 = rnd.randrange(self._keys()["n_cust"])
        seg, seg2 = rnd.choice(SEGMENTS), rnd.choice(SEGMENTS)
        pri = rnd.choice(PRIORITIES)
        nat = rnd.randrange(25)
        pred = rnd.choice(PREDICATES)
        o, cu = f"order:{k}", f"customer:{c}"
        b = "FROM base"
        return [
            ("point.spo", "point", f"ASK {{ {o} placed_by {cu} . }}",
             f"SELECT true AS ask WHERE EXISTS (SELECT 1 {b} WHERE {_named('s', o)} "
             f"AND p = 'placed_by' AND {_named('o_value', cu)})"),
            ("point.sp_", "point", f"SELECT ?o WHERE {{ {o} contains_part ?o . }}",
             f"SELECT o_value {b} WHERE {_named('s', o)} AND p = 'contains_part'"),
            ("point.s_o", "point", f"SELECT ?p WHERE {{ {o} ?p {cu} . }}",
             f"SELECT p {b} WHERE {_named('s', o)} AND {_named('o_value', cu)}"),
            ("point._po", "point", f"SELECT ?s WHERE {{ ?s in_segment segment:{seg} . }}",
             f"SELECT s {b} WHERE p = 'in_segment' AND {_named('o_value', 'segment:' + seg)}"),
            ("point.s__", "point", f"SELECT ?p ?o WHERE {{ customer:{c2} ?p ?o . }}",
             f"SELECT p, o_value {b} WHERE {_named('s', f'customer:{c2}')}"),
            ("point._p_", "point", f"SELECT ?s ?o WHERE {{ ?s {pred} ?o . }}",
             f"SELECT s, o_value {b} WHERE p = '{pred}'"),
            ("point.__o", "point", f"SELECT ?s ?p WHERE {{ ?s ?p nation:{nat} . }}",
             f"SELECT s, p {b} WHERE {_named('o_value', f'nation:{nat}')}"),
            ("point.___", "point", "SELECT ?s ?p ?o WHERE { ?s ?p ?o . }",
             f"SELECT s, p, o_value {b}"),
            ("join.bgp3", "join",
             f"SELECT ?o ?c WHERE {{ ?o placed_by ?c . ?c in_segment segment:{seg2} . "
             f"?o has_priority priority:{pri} . }}",
             f"SELECT t0.s, t0.o_value FROM base t0 JOIN base t1 ON t1.s = t0.o_value "
             f"JOIN base t2 ON t2.s = t0.s WHERE t0.p = 'placed_by' AND t1.p = 'in_segment' "
             f"AND t1.o_value = 'segment:{seg2}' AND t1.o_kind = 'named' "
             f"AND t2.p = 'has_priority' AND t2.o_value = 'priority:{pri}' AND t2.o_kind = 'named'"),
            ("join.optional", "join",
             f"SELECT ?e ?seg WHERE {{ ?e in_nation nation:{nat} . "
             f"OPTIONAL {{ ?e in_segment ?seg . }} }}",
             f"SELECT t0.s, t1.o_value FROM base t0 LEFT JOIN base t1 "
             f"ON t1.s = t0.s AND t1.p = 'in_segment' "
             f"WHERE t0.p = 'in_nation' AND {_named('t0.o_value', f'nation:{nat}')}"),
            ("join.filter", "join",
             f'SELECT ?o WHERE {{ ?o has_priority priority:{pri} . ?o has_status ?st . '
             f'FILTER(?st = "F") }}',
             f"SELECT t0.s FROM base t0 JOIN base t1 ON t1.s = t0.s "
             f"WHERE t0.p = 'has_priority' AND t0.o_value = 'priority:{pri}' "
             f"AND t0.o_kind = 'named' AND t1.p = 'has_status' AND t1.o_value = 'F'"),
            ("join.group", "join",
             f"SELECT ?n (COUNT(?c) AS ?k) WHERE {{ ?c in_segment segment:{seg} . "
             f"?c in_nation ?n . }} GROUP BY ?n",
             f"SELECT t1.o_value, count(*) FROM base t0 JOIN base t1 ON t1.s = t0.s "
             f"WHERE t0.p = 'in_segment' AND t0.o_value = 'segment:{seg}' "
             f"AND t0.o_kind = 'named' AND t1.p = 'in_nation' GROUP BY t1.o_value"),
            ("join.path", "join",
             f"SELECT ?r WHERE {{ {cu} in_nation/in_region ?r . }}",
             f"SELECT t1.o_value FROM base t0 JOIN base t1 ON t1.s = t0.o_value "
             f"WHERE {_named('t0.s', cu)} "
             f"AND t0.p = 'in_nation' AND t1.p = 'in_region'"),
        ]

    def round(self, r: int) -> list[Op]:
        ctx = self.ctx
        ops = []
        for name, cls, text, sql in self._queries(r):

            def run(text=text):
                with ctx.tracer.span("plans.bgp.build", jobs=True):
                    df = ctx.store.sparql(text)
                with ctx.tracer.span("spark.exec", jobs=True):
                    return spark_fingerprint(df)

            def check(got, sql=sql):
                want = ctx.oracle.fingerprint(sql)
                return None if got == want else f"fingerprint {got} != {want}"

            ops.append(Op(name, cls, run, check))
        return ops


# ---------------------------------------------------------------------------
# rdf: writes
# ---------------------------------------------------------------------------


def _plan_nodes(df) -> int:
    """Nodes in the DataFrame's analysed logical plan."""
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class RdfWrite(Workload):
    """The write operations of ``rdf``."""
    SLICE_ORDERS = 60

    def _chains(self, r: int) -> list[list[tuple[str, str, list[str]]]]:
        """The update chains of round ``r``, each from the base snapshot: lists
        of (name, UPDATE text, DuckDB statements applying it to table
        ``cur``). The first chain is three consecutive pattern updates, whose
        snapshots' plans grow about threefold each; the second is the two
        data statements."""
        rnd = _rng(self.ctx.seed, r)
        (k1, c1), (k2, c2) = rnd.sample(self._keys()["orders"], 2)
        seg, seg2 = rnd.sample(SEGMENTS, 2)
        pri = rnd.choice(PRIORITIES)
        note = f"note-{r}"
        pattern = [
            ("dml.delete_where.1",
             f"DELETE WHERE {{ ?c in_segment segment:{seg} . }}",
             [f"DELETE FROM cur WHERE p = 'in_segment' AND {_named('o_value', f'segment:{seg}')}"]),
            ("dml.modify.2",
             f"DELETE {{ ?o has_priority priority:{pri} . }} "
             f"INSERT {{ ?o had_priority priority:{pri} . }} "
             f"WHERE {{ ?o has_priority priority:{pri} . }}",
             ["CREATE OR REPLACE TEMP TABLE sol AS SELECT DISTINCT s AS o FROM cur "
              f"WHERE p = 'has_priority' AND {_named('o_value', f'priority:{pri}')}",
              f"DELETE FROM cur WHERE p = 'has_priority' AND o_value = 'priority:{pri}' "
              "AND s IN (SELECT o FROM sol)",
              f"INSERT INTO cur SELECT o, 'named', 'had_priority', 'priority:{pri}', 'named', "
              "NULL, NULL FROM sol EXCEPT SELECT * FROM cur"]),
            ("dml.delete_where.3",
             f"DELETE WHERE {{ ?c in_segment segment:{seg2} . }}",
             [f"DELETE FROM cur WHERE p = 'in_segment' AND {_named('o_value', f'segment:{seg2}')}"]),
        ]
        data = [
            ("dml.insert_data.1",
             f'INSERT DATA {{ order:{k1} has_note "{note}" . '
             f"customer:{c1} in_segment segment:VIP{r} . }}",
             [f"INSERT INTO cur SELECT * FROM (VALUES "
              f"('order:{k1}', 'named', 'has_note', '{note}', 'literal', NULL, NULL), "
              f"('customer:{c1}', 'named', 'in_segment', 'segment:VIP{r}', 'named', NULL, NULL)"
              ") v EXCEPT SELECT * FROM cur"]),
            ("dml.delete_data.2",
             f"DELETE DATA {{ order:{k2} placed_by customer:{c2} . }}",
             [f"DELETE FROM cur WHERE {_named('s', f'order:{k2}')} AND p = 'placed_by' "
              f"AND {_named('o_value', f'customer:{c2}')}"]),
        ]
        return [pattern, data]

    def round(self, r: int) -> list[Op]:
        ops: list[Op] = []
        for i, chain in enumerate(self._chains(r)):
            ops += self._chain_ops(chain, measured=(i == 0))
        return ops + self._round_trips(r)

    def warm_round(self, r: int) -> list[Op]:
        """Every statement and round trip of a round, but each pattern
        update on its own from the base snapshot, so that they warm up side
        by side instead of one after the other. The long chain's deeper
        snapshots are first planned in the measured round; the traced run's
        count check shows whether that first time costs extra jobs."""
        pattern, data = self._chains(r)
        ops: list[Op] = []
        for stmt in pattern:
            ops += self._chain_ops([stmt], measured=False)
        return ops + self._chain_ops(data, measured=False) + self._round_trips(r)

    def _chain_ops(self, statements, measured: bool) -> list[Op]:
        """The chain's operations; ``measured`` marks the chain whose plan
        sizes are the ``store.plan_nodes.posN`` metrics."""
        ctx = self.ctx
        state = {"store": ctx.store}
        ops = []
        for pos, (name, text, duck) in enumerate(statements, 1):

            def run(text=text, pos=pos):
                tr = ctx.tracer
                with tr.span("store.update", jobs=True) as rec:
                    st = state["store"].update(text)
                state["store"] = st
                if rec is not None:
                    rec.update(plan_nodes=_plan_nodes(st.df), pos=pos if measured else None)
                # Snapshots are lazy: the read-back is what materialises one.
                with tr.span("store.read_after_write", jobs=True):
                    return spark_fingerprint(st.df)

            def check(got, duck=duck, first=(pos == 1)):
                if first:
                    ctx.oracle.con.execute("CREATE OR REPLACE TABLE cur AS SELECT * FROM base")
                for stmt in duck:
                    ctx.oracle.con.execute(stmt)
                want = ctx.oracle.fingerprint("SELECT * FROM cur")
                return None if got == want else f"read-back fingerprint {got} != {want}"

            ops.append(Op(name, "dml", run, check, seq=statements[0][0]))
        return ops

    def _round_trips(self, r: int) -> list[Op]:
        ctx = self.ctx
        rnd = _rng(ctx.seed, r)
        n_ord = len(self._keys()["orders"])
        lo = rnd.randrange(max(1, n_ord - self.SLICE_ORDERS))
        subjects = [f"order:{k}" for k in range(lo, lo + self.SLICE_ORDERS)]
        in_list = ", ".join(f"'{s}'" for s in subjects)
        slice_sql = f"SELECT * FROM base WHERE s IN ({in_list})"
        whole_sql = "SELECT * FROM base"
        tr = ctx.tracer
        out = os.path.join(ctx.scratch, "roundtrip")

        def sliced() -> TripleStore:
            return TripleStore(ctx.spark, ctx.store.df.filter(F.col("s").isin(subjects)))

        def rdfxml():
            path = os.path.join(out, "slice.rdf")
            os.makedirs(out, exist_ok=True)
            t0 = time.perf_counter()
            with tr.span("sources.rdfio.serialize", jobs=True):
                data = sliced().to_rdf()
            t1 = time.perf_counter()
            with open(path, "wb") as f:
                f.write(data)
            with tr.span("sources.rdfio.parse"):
                parsed = rdfio.parse_rdfxml(data)
            t2 = time.perf_counter()
            with tr.span("sources.rdfio.read", jobs=True):
                fp = spark_fingerprint(TripleStore.from_rdf(ctx.spark, path).df)
            ctx.io_samples.append((fp[0], t1 - t0, time.perf_counter() - t2))
            return parsed, fp

        def rdfxml_check(got):
            parsed, fp = got
            want = ctx.oracle.fingerprint(slice_sql)
            if fp != want:
                return f"from_rdf fingerprint {fp} != {want}"
            rows = set(ctx.oracle.rows(slice_sql))
            return None if set(parsed) == rows else "parse_rdfxml rows differ"

        def backup():
            path = os.path.join(out, "backup")
            with tr.span("store.persist", jobs=True):
                ctx.store.persist_to(path)
            with tr.span("store.restore", jobs=True):
                fp = spark_fingerprint(TripleStore.from_backup(ctx.spark, path).df)
            return fp, _du(path)

        def backup_check(got):
            fp, nbytes = got
            ctx.backup_bytes = nbytes
            want = ctx.oracle.fingerprint(whole_sql)
            return None if fp == want else f"backup fingerprint {fp} != {want}"

        def ripple():
            path = os.path.join(out, "ripple")
            shutil.rmtree(path, ignore_errors=True)
            with tr.span("sources.ripplebackup.write", jobs=True):
                sliced().to_ripplebackup(path)
            with tr.span("sources.ripplebackup.read", jobs=True):
                return spark_fingerprint(TripleStore.from_ripplebackup(ctx.spark, path).df)

        def ripple_check(got):
            want = ctx.oracle.fingerprint(slice_sql)
            return None if got == want else f"ripplebackup fingerprint {got} != {want}"

        return [
            Op("roundtrip.rdfxml", "roundtrip", rdfxml, rdfxml_check),
            Op("roundtrip.backup", "roundtrip", backup, backup_check),
            Op("roundtrip.ripplebackup", "roundtrip", ripple, ripple_check),
        ]


class Rdf(Workload):
    """Each round: the reads, then the writes, all from the same base
    snapshot. One workload rather than two, so that a run starts the JVM
    and derives the graph once for both paths."""

    name = "rdf"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.reads, self.writes = RdfQuery(ctx), RdfWrite(ctx)

    def round(self, r: int) -> list[Op]:
        return self.reads.round(r) + self.writes.round(r)

    def warm_round(self, r: int) -> list[Op]:
        return self.reads.round(r) + self.writes.warm_round(r)


# ---------------------------------------------------------------------------
# pipeline_mix
# ---------------------------------------------------------------------------


class PipelineMix(Workload):
    name = "pipeline_mix"
    #: (class, registered query)
    KEYS = (
        ("build", "path_within_closure"),
        ("build", "pca_top2_projection_embeddings"),
        ("execute", "q1_pricing_summary"),
        ("execute", "q6_forecast_revenue"),
    )

    def build_inputs(self) -> None:
        """Nothing to prepare: each query reads its own tables."""

    def round(self, r: int) -> list[Op]:
        ctx = self.ctx
        queries, oracles = all_queries(), all_oracles()
        ops = []
        for cls, key in self.KEYS:

            def run(fn=queries[key], key=key):
                with ctx.tracer.span(f"queries.{key}.build", jobs=True):
                    df = fn(ctx.spark, ctx.data_dir)
                with ctx.tracer.span(f"queries.{key}.exec", jobs=True):
                    return df.columns, df.collect()

            def check(got, sql=oracles[key]):
                cols, rows = got
                return ctx.oracle.compare([tuple(x) for x in rows], cols, sql)

            ops.append(Op(key, cls, run, check))
        return ops


WORKLOADS = {w.name: w for w in (Rdf, PipelineMix)}
