"""The benchmark's workloads. Each one is a single closed-loop client: it
issues whole rounds of its request deck (a SQLite load plus its MERGE
batches; a block of nineteen ``ask`` requests) until ``--seconds`` have
elapsed, waiting for every answer before the next request. Answers are
checked after the timed call returns, outside every timed region; a
wrong answer counts as a failed request.

Every request is timed in wall-clock seconds, which the end-to-end
figures use, and in the CPU seconds the Spark JVM and this process spent
on it, which the detail line reports (README.md).
"""

from __future__ import annotations

import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext

import check
import gen
from spans import TracingPlanner, install_agent_hooks, traced_workflow

# Input sizes (scale factor 1 ~ 6M lineitem rows). Both workloads are
# overhead-bound at these sizes on a few cores; they are kept small so
# that one run, Spark start included, stays under a minute.
INGEST_FACT_ROWS = 10_000
ASK_SF = 0.01
SETUP_REPS = 3

# registry entry -> its key in graph.algorithms.LAST_ITER_SECONDS
ITER_KEYS = {
    "galg_pagerank_top20": "pagerank",
    "galg_bfs_from_customer1": "bfs_distances",
    "galg_kcore_3": "k_core",
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _figures(run, requests, heavy, work: float, work_kinds) -> dict:
    """The end-to-end figures: latency of the ``requests`` kinds, median
    latency of the ``heavy`` kind, and ``work`` units done per second of
    the ``work_kinds`` requests. Their CPU-second twins go to the detail
    line."""
    out = {}
    for clock, samples in (("wall", run.wall), ("cpu", run.cpu)):
        req = [v for k in requests for v in samples[k]]
        spent = sum(v for k in work_kinds for v in samples[k])
        out[clock] = {
            "request_p50_s": percentile(req, 0.5),
            "request_p90_s": percentile(req, 0.9),
            "heavy_request_p50_s": statistics.median(samples[heavy]),
            "throughput_per_s": work / spent,
        }
    run.detail["cpu"] = out["cpu"]
    return out["wall"]


class Run:
    """State of one benchmark run: request counts, spans, figures."""

    def __init__(self, spark, args, work: str, tracer, counters):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.inject_wrong = args.inject_wrong
        self.work = work
        self.tracer = tracer
        self.counters = counters
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.setup_s = 0.0
        self._op = 0
        # per request kind: wall-clock and CPU seconds of each request
        self.wall: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self._jvm_stat = f"/proc/{spark.sparkContext._gateway.proc.pid}/stat"
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Spark JVM and this process."""
        with open(self._jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / self._tick  # utime, stime
        t = os.times()
        return jvm + t.user + t.system

    def op(self, kind: str, fn):
        """Make one request; returns (result, seconds), or (None, None)
        when it raised, which counts as a failed request."""
        self._op += 1
        self.attempted += 1
        self.tracer.op_id = self._op
        ctx = self.counters.op(self._op) if self.counters else nullcontext()
        try:
            with ctx:
                c0, t0 = self.cpu_s(), time.perf_counter()
                with self.tracer.span(kind):
                    result = fn()
                dt = time.perf_counter() - t0
                self.cpu[kind].append(self.cpu_s() - c0)
                self.wall[kind].append(dt)
        except Exception as e:  # a failed request is a measured outcome
            self.failed += 1
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None, None
        finally:
            self.tracer.op_id = None
        return result, dt

    def verdict(self, what: str, reason: str | None) -> None:
        """Record the check of the request just made; ``reason`` is
        None for a correct answer."""
        if self.inject_wrong and reason is None:
            self.inject_wrong = False
            reason = "injected wrong answer"
        if reason is not None:
            self.failed += 1
            self.failures.append(f"{what}: {reason}"[:300])

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

    def setup(self, make_inputs):
        """Generate the inputs ``SETUP_REPS`` times into fresh
        directories and require byte-identical results. Returns the
        median generation time and the first rep's inputs."""
        times, results = [], []
        for k in range(SETUP_REPS):
            t0 = time.perf_counter()
            results.append(make_inputs(os.path.join(self.work, f"in{k}")))
            times.append(time.perf_counter() - t0)
        if any(r[0] != results[0][0] for r in results):
            raise RuntimeError("the same seed produced different inputs")
        return statistics.median(times), results[0][1]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


def _count_graph(spark, path: str, only=None) -> dict[str, int]:
    """Node and relationship counts of a saved graph, read back."""
    from project_graphdb_spark.graph.storage import load_graph

    g = load_graph(spark, path)
    frames = {**g.nodes, **{t: ef.df for t, ef in g.edges.items()}}
    return {
        name: df.count()
        for name, df in frames.items()
        if only is None or name in only
    }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _sub, files in os.walk(path)
        for f in files
    )


def _plan_s(*frames) -> float:
    t0 = time.perf_counter()
    for df in frames:
        df._jdf.queryExecution().executedPlan()
    return time.perf_counter() - t0


def run_ingest(run: Run) -> dict:
    from project_graphdb_spark.cypher.write import cypher_write
    from project_graphdb_spark.graph.builder import build_graph
    from project_graphdb_spark.graph.storage import load_graph, save_graph
    from project_graphdb_spark.io.sqlite import (
        introspect,
        read_normalized,
        sqlite_to_graph,
    )
    from project_graphdb_spark.schema.inference import (
        TPCH_REL_NAMES,
        infer_graph_schema,
    )
    from project_graphdb_spark.spark_util import materialize

    spark, tr = run.spark, run.tracer

    def make(d):
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "source.db")
        expected = gen.write_sqlite(path, INGEST_FACT_ROWS, run.seed)
        return gen.file_digest(path), (path, expected)

    gen_s, (db, expected) = run.setup(make)
    batches, final = gen.merge_batches(expected, run.seed)
    want_load = {**expected["nodes"], **expected["relationships"]}
    rels = sum(expected["relationships"].values())
    merge_rows = sum(len(b["rows"]) for b in batches)
    plan_s: list[float] = []

    def load(out: str) -> None:
        if not tr.enabled:
            graph, _gs, _rs = sqlite_to_graph(spark, db, TPCH_REL_NAMES)
            save_graph(graph, out)
            return
        # traced run: sqlite_to_graph's public steps one by one, and the
        # graph executed once to a noop sink before it is written
        with tr.span("io.sqlite.introspect"):
            rschema = introspect(db)
        with tr.span("schema.inference.infer"):
            gschema = infer_graph_schema(rschema, TPCH_REL_NAMES)
        tables = {}
        for t in rschema:
            with tr.span("io.sqlite.read"):
                tables[t.name] = read_normalized(spark, db, t)
        with tr.span("graph.builder.build"):
            graph = build_graph(spark, tables, gschema, relational=rschema)
        with tr.span("graph.builder.exec"):
            for df in graph.nodes.values():
                materialize(df)
            for ef in graph.edges.values():
                materialize(ef.df)
        with tr.span("graph.storage.save"):
            save_graph(graph, out)

    def merge(graph, batch, measured=True):
        rows = spark.createDataFrame(batch["rows"], batch["columns"])
        with tr.span("cypher.write.batch" if measured else "merge_warmup"):
            new, ret = cypher_write(graph, batch["query"], {"rows": rows})
            count = ret.collect()[0][0]
        if tr.enabled and measured:
            plan_s.append(
                _plan_s(new.node("Customer"), new.edge("PLACED_BY"))
            )
        return new, count

    def check_merge(what, batch, count) -> None:
        want = batch["returns"]
        run.verdict(what, None if count == want else f"{count} != {want}")

    def cycle(k: int) -> None:
        out = os.path.join(run.work, f"graph{k}")
        _, load_s = run.op("load", lambda: load(out))
        if load_s is not None:
            got = _count_graph(spark, out)
            run.verdict("load", None if got == want_load else f"{got} != {want_load}")
        graph = load_graph(spark, out)
        # warm-up: the first node and relationship batches, checked and
        # then discarded, so that each measured batch shape has run once
        warm = graph
        for b in batches[:2]:
            res, _dt = run.op("merge_warmup", lambda b=b: merge(warm, b, False))
            if res is not None:
                warm, count = res
                check_merge("merge_warmup", b, count)
        for b in batches:
            res, _dt = run.op(f"merge_{b['kind']}", lambda b=b: merge(graph, b))
            if res is not None:
                graph, count = res
                check_merge("merge", b, count)
        merged = os.path.join(run.work, f"merged{k}")
        _, save_s = run.op("merge_save", lambda: save_graph(graph, merged))
        if save_s is not None:
            got = _count_graph(spark, merged, only=final)
            run.verdict("merge_save", None if got == final else f"{got} != {final}")

    # No warm-up load: a load is a once-per-process job for its users, so
    # the first cycle's load, cold, is measured like the others.
    run.setup_s = gen_s
    end = run.deadline()
    cycles = 0
    while True:
        cycle(cycles)
        cycles += 1
        if time.perf_counter() >= end:
            break

    loads = run.wall["load"]
    merge_kinds = ("merge_node", "merge_relationship", "merge_save")
    run.detail.update(
        {
            "ingest_rels_per_s": rels * len(loads) / sum(loads),
            "merge_rows_per_s": merge_rows
            * cycles
            / sum(v for k in merge_kinds for v in run.wall[k]),
            "latency_s": dict(run.wall),
            "expected": {
                key: v for key, v in expected.items() if key != "placed_by"
            },
        }
    )
    if tr.enabled:
        tot = tr.totals()

        def per_load(name):
            return tot.get(name, {}).get("total_s", 0.0) / len(loads)

        read_s = per_load("io.sqlite.read")
        run.layer.update(
            {
                "io.sqlite.introspect_s": per_load("io.sqlite.introspect"),
                "io.sqlite.read_s": read_s,
                "io.sqlite.rows_per_s": expected["source_rows"] / read_s,
                "schema.inference.infer_s": per_load("schema.inference.infer"),
                "graph.builder.build_s": per_load("graph.builder.build"),
                "graph.builder.exec_s": per_load("graph.builder.exec"),
                "graph.storage.save_s": per_load("graph.storage.save"),
                "graph.storage.bytes_per_input_byte": _dir_bytes(
                    os.path.join(run.work, "graph0")
                )
                / os.path.getsize(db),
                "cypher.write.batch_s": statistics.median(
                    tr.durations("cypher.write.batch")
                ),
                # the graphs are immutable, so each batch's plan holds the
                # lineage of every batch before it
                "cypher.write.plan_growth": plan_s[len(batches) - 1]
                / plan_s[0],
            }
        )
    return _figures(
        run, ["merge_relationship"], "load", rels * len(loads), ["load"]
    )


# ---------------------------------------------------------------------------
# ask
# ---------------------------------------------------------------------------

# the agent requests whose latency the figures report; registry entries
# and the analytics calls are checked but vary in cost with the seed
QUESTION_KINDS = ("question", "faulty")

REVENUE_PER_YEAR_SQL = (
    "SELECT year(o_orderdate) AS order_year, "
    "SUM(l_extendedprice * (1 - l_discount)) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN part ON l_partkey = p_partkey GROUP BY 1"
)


def question_sql(text: str) -> str | None:
    """DuckDB SQL returning the records a correct answer to ``text``
    holds; None when the answer must be the value-missing reply."""
    q = text.lower()
    y = re.search(r"\b(19\d{2}|20\d{2})\b", q)
    if "total sales" in q:
        return (
            "SELECT SUM(o_totalprice) AS total_sales FROM orders "
            f"WHERE year(o_orderdate) = {y.group(1)}"
        )
    if "status" in q:
        return (
            "SELECT o_orderstatus AS status, count(*) AS n FROM orders "
            f"WHERE year(o_orderdate) = {y.group(1)} GROUP BY 1"
        )
    m = re.search(r"top (\d+) customers", q)
    if m:
        return (
            "SELECT c_name AS name, SUM(o_totalprice) AS revenue "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"GROUP BY c_name ORDER BY revenue DESC, name LIMIT {m.group(1)}"
        )
    m = re.search(r"in the '([^']+)' segment", q)
    if m:
        if m.group(1).upper() not in gen.SEGMENTS:
            return None
        return (
            "SELECT count(*) AS n_customers FROM customer "
            f"WHERE lower(c_mktsegment) = '{m.group(1).lower()}'"
        )
    if "orders by segment" in q:
        return (
            "SELECT c_mktsegment AS segment, count(*) AS n_orders "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"
        )
    if "revenue per year" in q:
        return REVENUE_PER_YEAR_SQL
    if "no orders" in q:
        return (
            "SELECT count(*) AS n_customers FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        )
    raise ValueError(f"no expectation for {text!r}")


def _records(state) -> list[dict]:
    recs = state.get("database_records")
    return recs if isinstance(recs, list) else []


def run_ask(run: Run) -> dict:
    from project_graphdb_spark.agent.rca import AdaptiveInvestigator, run_rca
    from project_graphdb_spark.agent.state import new_state
    from project_graphdb_spark.agent.workflow import (
        FaultyPlanner,
        TemplatePlanner,
        run_agent_workflow,
    )
    from project_graphdb_spark.graph.builder import tpch_graph
    from project_graphdb_spark.workload import (
        REGISTRY,
        headline_queries,
        oracle_sql,
    )

    spark, tr = run.spark, run.tracer

    def make(d):
        return gen.write_tpch_parquet(d, ASK_SF, run.seed), d

    gen_s, sf_dir = run.setup(make)
    oracles = oracle_sql()
    entries = sorted(
        n for n in REGISTRY
        if n.startswith("cypher_") and not n.startswith("cypher_write")
    )
    con = check.duckdb_con(sf_dir)
    workflow = run_agent_workflow
    if tr.enabled:
        install_agent_hooks(tr)
        workflow = traced_workflow(run_agent_workflow, tr)

    def planner(p):
        return TracingPlanner(p, tr) if tr.enabled else p

    def ask(graph, req):
        if req["kind"] == "rca":
            with tr.span("agent.rca"):
                return run_rca(
                    graph, req["text"], AdaptiveInvestigator(),
                    planner(TemplatePlanner()),
                )
        if req["kind"] == "cypher":
            return REGISTRY[req["text"]].fn(spark, sf_dir).collect()
        p = (
            FaultyPlanner(req["cypher"])
            if req["kind"] == "faulty"
            else TemplatePlanner()
        )
        return workflow(new_state(req["text"]), graph, planner(p))

    def expect(req, result) -> str | None:
        if req["kind"] == "cypher":
            return check.diff(
                [r.asDict(recursive=True) for r in result],
                check.sql_records(con, oracles[req["text"]]),
            )
        if req["kind"] == "rca":
            series = {
                r["order_year"]: r["revenue"]
                for r in check.sql_records(con, REVENUE_PER_YEAR_SQL)
            }
            drops = [
                (series[y] / series[y - 1], y)
                for y in series
                if y - 1 in series and series[y - 1] > 0
            ]
            want = f"Largest year-over-year revenue drop: {min(drops)[1]}"
            ok = want in result and "(4 sub-queries)" in result
            return None if ok else f"{want!r} not in {result[:200]!r}"
        sql = question_sql(req["text"])
        if sql is None:
            ok = "does not exist" in result["answer"] and not _records(result)
            return None if ok else "value probe did not short-circuit"
        if "execute_cypher" not in result["steps"]:
            return f"not executed: {result['answer'][:160]}"
        return check.diff(_records(result), check.sql_records(con, sql))

    checked: set[str] = set()

    def check_once(req, result) -> None:
        key = gen.request_key(req)
        if key not in checked:
            checked.add(key)
            run.verdict(req["text"], expect(req, result))

    requests = gen.ask_requests(run.seed, entries)
    # Warm-up (set-up): the first graph build, then the first question of
    # each template in the first block, checked, so that the measured
    # questions do not depend on which of them meets a template first.
    t0 = time.perf_counter()
    graph = tpch_graph(spark, sf_dir)
    warmed = set()
    for req in requests[: gen.BLOCK_SIZE]:
        if req["kind"] in QUESTION_KINDS and req["template"] not in warmed:
            warmed.add(req["template"])
            result, _ = run.op("warmup", lambda req=req: ask(graph, req))
            if result is not None:
                check_once(req, result)
    run.setup_s = gen_s + time.perf_counter() - t0
    tr.spans.clear()
    tr.counts.clear()
    if run.counters:
        run.counters.reset()
    A = _algorithms()
    layouts0 = dict(A.EDGE_LAYOUT_STATS)

    end = run.deadline()
    for i, req in enumerate(requests):
        result, dt = run.op(req["kind"], lambda req=req: ask(graph, req))
        if dt is not None:
            check_once(req, result)
        if (i + 1) % gen.BLOCK_SIZE == 0 and time.perf_counter() >= end:
            break

    # The analytics call of this run: a graph algorithm on even seeds, a
    # headline operator query on odd ones.
    galg = sorted(n for n in REGISTRY if n in GALG)
    extras = [gen.registry_extra(run.seed, galg, sorted(headline_queries()))]
    phases = {n: _registry_call(run, n, sf_dir, con) for n in extras}

    lat = run.wall
    questions = [v for k in QUESTION_KINDS for v in lat[k]]
    rca = lat["rca"]
    run.detail.update(
        {
            "question_p50_s": percentile(questions, 0.5),
            "question_p90_s": percentile(questions, 0.9),
            "question_samples": len(questions),
            "rca_p50_s": statistics.median(rca),
            "rca_samples": len(rca),
            "per_kind_p50_s": {
                k: statistics.median(v) for k, v in sorted(lat.items()) if v
            },
            "distinct_checked": len(checked),
            "registry_s": {
                n: p and sum(p.values()) for n, p in phases.items()
            },
        }
    )
    if tr.enabled:
        tot = tr.totals()
        c = tr.counts
        n_q = max(c["questions"], 1)
        wf = tot.get("agent.workflow", {"n": 0, "self_s": 0.0})
        n_compile = tot.get("cypher.compiler.compile", {"n": 0})["n"]
        n_rca = max(len(rca), 1)

        def per_q(name):
            return tot.get(name, {}).get("self_s", 0.0) / n_q

        run.layer.update(
            {
                "agent.planner.generate_s": per_q("agent.planner.generate"),
                "cypher.parser.parse_s": per_q("cypher.parser.parse"),
                "cypher.corrector.correct_s": per_q("cypher.corrector.correct"),
                "cypher.compiler.compile_s": per_q("cypher.compiler.compile"),
                "cypher.compiler.compiles_per_question": (
                    c["executed"] / n_compile if n_compile else 0.0
                ),
                "agent.workflow.value_probes_per_question": (
                    c["value_probes"] / n_q
                ),
                "agent.workflow.correction_rounds": c["correction_rounds"] / n_q,
                "agent.workflow.self_s": wf["self_s"] / max(wf["n"], 1),
                "agent.rca.subqueries": sum(
                    1 for s in tr.spans
                    if s[0] == "agent.workflow"
                    and s[3] is not None
                    and tr.spans[s[3]][0] == "agent.rca"
                )
                / n_rca,
                "agent.rca.self_s": tot.get("agent.rca", {"self_s": 0.0})[
                    "self_s"
                ]
                / n_rca,
            }
        )
        _analytics_layers(run, sf_dir, extras, phases, layouts0)
    agent = [*QUESTION_KINDS, "rca"]
    return _figures(
        run, QUESTION_KINDS, "rca", sum(len(lat[k]) for k in agent), agent
    )


# ---------------------------------------------------------------------------
# registry entries through spark_util.materialize
# ---------------------------------------------------------------------------

GALG = (
    "galg_bfs_from_customer1",
    "galg_degrees",
    "galg_kcore_3",
    "galg_pagerank_top20",
    "galg_triangle_count",
)


def _algorithms():
    from project_graphdb_spark.graph import algorithms

    return algorithms


def _registry_call(run: Run, name: str, sf_dir: str, con):
    """One registry entry built through the registry and executed with
    ``spark_util.materialize``, then collected and compared with its
    oracle. Returns its {build, plan, exec} seconds (plan is measured
    on its own only in the traced run), or None if it failed."""
    from project_graphdb_spark.spark_util import materialize
    from project_graphdb_spark.workload import REGISTRY, oracle_sql

    spark, tr = run.spark, run.tracer
    phases: dict[str, float] = {}

    def call():
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        if tr.enabled:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = materialize(df)
        phases.update(build=t1 - t0, plan=t2 - t1, exec=time.perf_counter() - t2)
        return df, rows

    res, _dt = run.op(name, call)
    if res is None:
        return None
    if tr.enabled:
        _iterations(run, name)
    df, rows = res
    got = check.spark_records(df)
    oracle = oracle_sql().get(name)
    if oracle:
        reason = check.diff(got, check.sql_records(con, oracle))
    else:  # no oracle registered: rows-only check
        reason = None if len(got) == rows > 0 else "no rows"
    run.verdict(name, reason)
    return phases


def _iterations(run: Run, name: str) -> None:
    key = ITER_KEYS.get(name)
    its = _algorithms().LAST_ITER_SECONDS.pop(key, None) if key else None
    if its:
        run.detail["supersteps"] = len(its)
        # settled time: the first superstep carries one-time costs
        run.detail["superstep_s"] = statistics.median(its[1:] or its)


def _analytics_layers(run: Run, sf_dir, extras, phases, layouts0) -> None:
    from project_graphdb_spark.io.tables import TABLE_NAMES, load_table

    load_s = []
    for t in TABLE_NAMES:  # isolated calls, one per table
        t0 = time.perf_counter()
        load_table(run.spark, sf_dir, t)
        load_s.append(time.perf_counter() - t0)
    st = {
        k: v - layouts0.get(k, 0)
        for k, v in _algorithms().EDGE_LAYOUT_STATS.items()
    }
    used = st["writes"] + st["hits"]
    ops = [phases[n] for n in extras if n not in GALG and phases.get(n)]
    algo = [phases[n] for n in extras if n in GALG and phases.get(n)]
    layer = run.layer
    layer["io.tables.load_table_s"] = statistics.mean(load_s)
    for phase in ("build", "plan", "exec"):
        layer[f"operators.{phase}_s"] = (
            statistics.mean(p[phase] for p in ops) if ops else 0.0
        )
    layer["graph.algorithms.call_s"] = (
        sum(algo[0].values()) if algo else 0.0
    )
    layer["graph.algorithms.supersteps"] = run.detail.get("supersteps", 0)
    layer["graph.algorithms.superstep_s"] = run.detail.get("superstep_s", 0.0)
    layer["graph.algorithms.layout_hit_ratio"] = st["hits"] / used if used else 0.0
    layer["graph.algorithms.layout_writes"] = st["writes"]
    layer["graph.algorithms.tier_fallbacks"] = st["tier_checkpoint_fallbacks"]
    run.detail["edge_layout_stats"] = st


WORKLOADS = {"ingest": run_ingest, "ask": run_ask}
