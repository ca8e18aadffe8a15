"""Layer spans for a traced run, recorded from outside the engine.

``Tracer.install`` wraps the public functions at each layer boundary for
the life of one process; nothing in the engine changes.  Spans are kept in
memory and turned into per-layer numbers when the run ends.  A span's self
time is its duration minus that of its child spans; an HTTP handler span is
linked to the client call that sent the request through a request header,
so the client's self time excludes the server's work.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

SPAN_HEADER = "X-Perfbench-Span"


class Tracer:
    def __init__(self) -> None:
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[tuple[int, int | None, str, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.groups: list[str] = []  # Spark job group of each query

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        frame = {"id": next(self._ids), "calls": 0}
        if parent is None and stack:
            parent = stack[-1]["id"]
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield frame
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            with self._lock:
                self.spans.append((frame["id"], parent, name, dur))
                if name == "builder.build":
                    self.counts["builder.py4j_calls"] += frame["calls"]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name, in ms."""
        child: dict[int, float] = defaultdict(float)
        for _, parent, _, dur in self.spans:
            if parent is not None:
                child[parent] += dur
        out: dict[str, float] = defaultdict(float)
        for sid, _, name, dur in self.spans:
            out[name] += (dur - child[sid]) * 1000
        return out

    def reset(self) -> None:
        """Forget what the warm-up recorded."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()
            self.groups.clear()

    def freeze(self) -> None:
        """Keep the timed window's numbers apart from what follows it."""
        with self._lock:
            self.window = (self.self_ms(), dict(self.counts))
            self.window_spans = Counter(s[2] for s in self.spans)
            self.window_groups = list(self.groups)

    # -- wrapping -------------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        from concept_multi_db_query_engine_spark import (
            builder, cache, http_client, http_server, pipeline, resolver,
            sources, sqlgen,
        )
        from concept_multi_db_query_engine_spark.query_validation import (
            QueryValidator,
        )

        tracer = self
        sc = spark.sparkContext
        self._wrap(pipeline, "resolve_access", "access.resolve")
        self._wrap(QueryValidator, "validate", "query_validation.validate")
        self._wrap(pipeline, "plan_query", "planner.plan")
        self._wrap(resolver.Resolver, "resolve", "resolver.resolve")
        self._wrap(sqlgen.SqlRenderer, "render", "dialects.render")
        self._wrap(builder.DataFrameBuilder, "build_count", "builder.build")
        self._wrap(sources.SourceRegistry, "df", "sources.read")
        df_cls = type(spark.range(1))
        self._wrap(df_cls, "collect", "spark.action")
        self._wrap(df_cls, "count", "spark.action")

        build = builder.DataFrameBuilder.build

        def traced_build(self_, plan):
            with tracer.span("builder.build"):
                df = build(self_, plan)
            # Catalyst analysis + optimisation + physical planning, forced
            # here so the action that follows times execution alone
            with tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            return df

        builder.DataFrameBuilder.build = traced_build

        get_many = cache.MemoryCache.get_many

        def traced_get_many(self_, keys):
            with tracer.span("cache.get_many"):
                hits = get_many(self_, keys)
            tracer.count("cache.keys", len(keys))
            tracer.count("cache.hits", sum(v is not None for v in hits.values()))
            return hits

        cache.MemoryCache.get_many = traced_get_many

        query = pipeline.MultiDb.query

        def traced_query(self_, *args, **kwargs):
            outer = not any(f.get("query") for f in tracer._stack())
            with tracer.span("pipeline.query") as frame:
                frame["query"] = True
                if not outer:
                    return query(self_, *args, **kwargs)
                group = f"perfbench-q{frame['id']}"
                with tracer._lock:
                    tracer.groups.append(group)
                sc.setJobGroup(group, group)
                try:
                    return query(self_, *args, **kwargs)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)

        pipeline.MultiDb.query = traced_query

        handler = http_server._Handler
        do_post = handler.do_POST

        def traced_do_post(self_):
            parent = self_.headers.get(SPAN_HEADER)
            with tracer.span("http_server.handle",
                             int(parent) if parent else None):
                return do_post(self_)

        handler.do_POST = traced_do_post
        send_header = handler.send_header

        def traced_send_header(self_, key, value):
            if key == "Content-Length":
                tracer.count("http.response_bytes", int(value))
            return send_header(self_, key, value)

        handler.send_header = traced_send_header

        client_query = http_client.MultiDbClient.query

        def traced_client_query(self_, *args, **kwargs):
            with tracer.span("http_client.query") as frame:
                self_.headers[SPAN_HEADER] = str(frame["id"])
                return client_query(self_, *args, **kwargs)

        http_client.MultiDbClient.query = traced_client_query

        conf_cls = type(spark.conf)
        conf_set = conf_cls.set

        def traced_conf_set(self_, *args, **kwargs):
            tracer.count("session.conf_writes")
            return conf_set(self_, *args, **kwargs)

        conf_cls.set = traced_conf_set

        gateway = sc._gateway._gateway_client
        send = gateway.send_command

        def counted_send(*args, **kwargs):
            for frame in tracer._stack():
                frame["calls"] += 1
            return send(*args, **kwargs)

        gateway.send_command = counted_send
