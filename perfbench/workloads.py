"""The benchmark's workloads.

Every workload is a closed loop over whole rounds: a round holds the same
multiset of operations in every run, in an order drawn from the run's seed,
so every run does the same work.  An untimed warm-up round runs first.
The number of timed rounds follows from ``seconds`` and the workload's
nominal round time, not from the clock, so a faster or slower host changes
how long the window lasts but not what it holds.
"""

from __future__ import annotations

import copy
import math
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any, NamedTuple

import __spark_entry__ as entry
from concept_multi_db_query_engine_spark import MultiDb, testdata
from concept_multi_db_query_engine_spark.cache import MemoryCache
from concept_multi_db_query_engine_spark.http_client import MultiDbClient
from concept_multi_db_query_engine_spark.http_server import serve_background

from checks import DB_DIALECTS
from measure import jvm_gc_ms, spark_counters

DSL = entry._DSL
CONTEXT = entry._DSL_CONTEXT

# orders keys held by the cache; lookups draw their ids from this range
HOT_KEYS = 15_000
LOOKUP_IDS = 16
LOOKUP_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus",
                  "o_totalprice", "o_orderdate"]

# definitions whose results stay at most 5,000 rows at sf0.1
HTTP_DEFS = [
    "filter_range_in", "filter_levenshtein", "filter_ilike_endswith",
    "join_left", "join_transitive", "agg_group_count", "agg_int_sum_avg",
    "agg_having", "agg_joined_column", "counted_exists_gte",
    "counted_exists_lt", "filter_case_ops", "filter_array_notempty",
    "counted_exists_eq", "distinct_cols", "order_limit_offset", "by_ids",
    "group_by_no_agg", "federated_join", "replica_routing", "filter_like",
    "filter_null_ops", "filter_array_contains", "filter_array_all_empty",
    "masking_role",
]
# count mode ignores groupBy, aggregations, distinct and limit
# (QUERY.md:193), so counts run only on definitions without them
COUNT_DEFS = [n for n in HTTP_DEFS if not any(
    DSL[n].get(k) for k in ("groupBy", "aggregations", "distinct", "limit"))]
HTTP_LOOKUPS = 8


# the operator rows ROADMAP names as open optimisation targets
OPERATOR_ROWS = [
    "dedup_prefix_filter", "docs_quality_logistic", "dedup_semantic",
    "sim_topk_ivf_pq", "graph_hits", "orders_hodges_lehmann",
]


def engine_config() -> dict:
    """The test registry's metadata with ``warehouse`` declared a Postgres
    engine and ``lake`` a ClickHouse engine, so ``sql-only`` renders those
    dialects while Spark executes every strategy, plus a cache on orders."""
    meta = copy.deepcopy(testdata.METADATA)
    for db in meta["databases"]:
        db["engine"] = DB_DIALECTS[db["id"]]
    meta["caches"] = [{"id": "orders-cache", "tables": [
        {"tableId": "orders", "keyPattern": "orders:{o_orderkey}"}]}]
    return meta


def build_engine(spark, sf_dir: str) -> MultiDb:
    cache = MemoryCache()
    for row in (testdata.load_table(spark, sf_dir, "orders")
                .where(f"o_orderkey < {HOT_KEYS}").collect()):
        cache.put(f"orders:{row['o_orderkey']}", row.asDict())
    registry = testdata.build_engine(spark, sf_dir).registry
    return MultiDb(spark, engine_config(), testdata.ROLES, registry,
                   caches={"orders-cache": cache}, strict_api_names=False)


class Op(NamedTuple):
    kind: str  # execute | count | compile | lookup | operator
    name: str
    definition: dict | None = None
    context: dict | None = None


def _query(kind: str, name: str) -> Op:
    d = dict(DSL[name])
    if kind != "execute":
        d["executeMode"] = "sql-only" if kind == "compile" else kind
    return Op(kind, name, d, CONTEXT.get(name))


def _lookup(rng: random.Random) -> Op:
    ids = rng.sample(range(HOT_KEYS), LOOKUP_IDS)
    return Op("lookup", "lookup", {"from": "orders", "columns": LOOKUP_COLUMNS,
                                   "byIds": ids})


def _call(target, op: Op) -> tuple[Op, float, Any]:
    t0 = time.perf_counter()
    try:
        result = target.query(op.definition, op.context)
    except Exception as exc:  # noqa: BLE001 - a failed op is counted, not raised
        result = exc
    return op, time.perf_counter() - t0, result


def _drain(pool: ThreadPoolExecutor, targets: list, ops: list[Op]) -> list:
    """Closed-loop clients, one per target, each taking the next operation
    of ``ops`` once its previous one has returned."""
    todo = iter(ops)
    lock = threading.Lock()

    def client(target) -> list:
        out = []
        while True:
            with lock:
                op = next(todo, None)
            if op is None:
                return out
            out.append(_call(target, op))

    futures = [pool.submit(client, t) for t in targets]
    return [rec for f in futures for rec in f.result()]


# the tail percentile both workloads report; a run needs ten samples beyond it
TAIL_P = 85


def percentile(values: list[float], p: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def min_samples(p: int) -> int:
    """Samples needed for at least ten beyond the ``p``th percentile."""
    return math.ceil(10 / (1 - p / 100))


class Workload:
    """Shared run loop; subclasses define the round and who executes it."""

    sf = "0.01"
    main_kinds: tuple[str, ...] = ("execute",)
    # nominal seconds per timed round on 4 vCPUs; sets the round count
    nominal_round_s = 4.0

    def __init__(self, spark, sf_dir: str, seed: int, tracer,
                 clients: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.tracer = tracer
        self.records: list[tuple[Op, float, Any]] = []  # the timed window's
        self.side_records: list[tuple[Op, float, Any]] = []
        self.diag: dict = {}
        self.failures: set[str] = set()
        self.engine = build_engine(spark, sf_dir)
        self.pool = ThreadPoolExecutor(clients)
        self.clients = clients

    def _rng(self, label) -> random.Random:
        return random.Random(f"{self.seed}:{label}")

    def round_ops(self, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def play(self, ops: list[Op]) -> list[tuple[Op, float, Any]]:
        raise NotImplementedError

    def warm(self) -> None:
        """The untimed warm-up round."""
        t0 = time.perf_counter()
        self.play(self.round_ops(self._rng("warm")))
        self.diag["warmup_pass_s"] = round(time.perf_counter() - t0, 3)

    def close(self) -> None:
        self.pool.shutdown()

    def measure(self, seconds: float) -> float:
        per_round = sum(op.kind in self.main_kinds
                        for op in self.round_ops(self._rng(0)))
        need = math.ceil(min_samples(TAIL_P) / per_round)
        rounds = max(need, round(seconds / self.nominal_round_s))
        round_s: list[float] = []
        gc0 = jvm_gc_ms(self.spark)
        t0 = time.perf_counter()
        for i in range(rounds):
            tr = time.perf_counter()
            self.records += self.play(self.round_ops(self._rng(i)))
            round_s.append(round(time.perf_counter() - tr, 3))
        window = time.perf_counter() - t0
        self.diag.update(round_s=round_s,
                         jvm_gc_ms=jvm_gc_ms(self.spark) - gc0)
        return window

    def after_window(self) -> None:
        """Work done after the timed window, outside the operation count."""

    def metrics(self, window: float) -> dict[str, float]:
        main = [dt * 1000 for op, dt, res in self.records
                if op.kind in self.main_kinds
                and not isinstance(res, Exception)]
        return {
            "latency_p50_ms": statistics.median(main),
            "latency_tail_ms": percentile(main, TAIL_P),
            "throughput_ops": sum(op.kind in self.main_kinds
                                  for op, _, _ in self.records) / window,
        }

    def check(self, oracle) -> tuple[int, bool]:
        """(failed, correct): the window's operations that raised or
        returned a wrong result, and whether no operation, side records
        included, did."""
        failed = 0
        correct = True
        for i, (op, _, res) in enumerate(self.records + self.side_records):
            if isinstance(res, Exception):
                ok, why = False, type(res).__name__
            else:
                ok, why = oracle.check(op, res), "wrong result"
            if ok:
                continue
            failed += i < len(self.records)
            correct = False
            self.failures.add(f"{op.kind}:{op.name}: {why}")
        return failed, correct


class DslConcurrent(Workload):
    """``nproc`` closed-loop in-process clients calling ``MultiDb.query``:
    each definition compiled then executed, plus as many ``byIds`` lookups
    served by the orders cache.  The clients take each round's operations
    in its seeded order, each the next one once its previous one has
    returned.  One client alone measured mostly the host: its median
    latency rose by half with 13% of the machine's CPU taken by other
    tenants, while clients that keep every core busy left it little room."""

    def round_ops(self, rng):
        units = [[_query("compile", n), _query("execute", n)] for n in DSL]
        units += [[_lookup(rng)] for _ in DSL]
        rng.shuffle(units)
        return [op for unit in units for op in unit]

    def play(self, ops):
        return _drain(self.pool, [self.engine] * self.clients, ops)

    def after_window(self) -> None:
        if self.tracer is not None:
            self._operator_rows()

    def _operator_rows(self) -> None:
        """Traced runs only: each ROADMAP operator row once, construction
        and action timed apart, for the operator layers' numbers.  The rows
        are checked but are not operations of the workload."""
        sc = self.spark.sparkContext
        queries = entry.queries()
        conf0 = self.tracer.counts.get("session.conf_writes", 0)
        cons_ms = act_ms = 0.0
        cons_groups = []
        for i, name in enumerate(OPERATOR_ROWS):
            group = f"perfbench-op{i}"
            cons_groups.append(group)
            sc.setJobGroup(group, group)
            t0 = t1 = time.perf_counter()
            try:
                df = queries[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                # the action's jobs apart from the construction's
                sc.setJobGroup(group + "-action", group)
                res = (df.columns, df.collect())
            except Exception as exc:  # noqa: BLE001 - counted as failed
                res = exc
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            t2 = time.perf_counter()
            cons_ms += (t1 - t0) * 1000
            act_ms += (t2 - t1) * 1000
            self.side_records.append((Op("operator", name), t2 - t0, res))
        n = len(OPERATOR_ROWS)
        self.operator_layers = {
            "operators.construct_ms": cons_ms / n,
            "operators.construct_jobs": spark_counters(
                self.spark, cons_groups)["spark.jobs"] / n,
            "operators.action_ms": act_ms / n,
            "spark.persistent_rdds": sc._jsc.getPersistentRDDs().size(),
            "session.conf_writes": (self.tracer.counts.get(
                "session.conf_writes", 0) - conf0) / n,
        }


class HttpConcurrent(Workload):
    """``nproc`` closed-loop HTTP clients against ``serve_background`` in
    this process.  The clients take each round's requests in its seeded
    order, each the next one once it has its previous reply; the round
    ends with the last reply."""

    sf = "0.1"
    main_kinds = ("execute", "count")
    nominal_round_s = 6.5

    def __init__(self, spark, sf_dir, seed, tracer, clients: int) -> None:
        super().__init__(spark, sf_dir, seed, tracer, clients)
        self.server = serve_background(self.engine)
        url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.http = [MultiDbClient(url, timeout_s=120)
                     for _ in range(clients)]

    def round_ops(self, rng):
        ops = [_query("execute", n) for n in HTTP_DEFS]
        ops += [_query("count", n) for n in COUNT_DEFS]
        ops += [_lookup(rng) for _ in range(HTTP_LOOKUPS)]
        rng.shuffle(ops)
        return ops

    def play(self, ops):
        return _drain(self.pool, self.http, ops)

    def close(self) -> None:
        super().close()
        self.server.shutdown()
        self.server.server_close()


WORKLOADS = {"dsl_concurrent": DslConcurrent,
             "http_concurrent": HttpConcurrent}
