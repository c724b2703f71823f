"""The traced run's wrappers around the program's public calls.

Nothing here changes what the program computes: each wrapper opens a
span, calls through, and closes it.  ``instrumented(tracer)`` patches
the matching layer's entry points for the duration of one iteration
and restores them afterwards; ``instrument_pipeline`` wraps the Task
callables and the materialisation step of one ``Pipeline`` object.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext

from workloads import MARTS

class NullTracer:
    """The untraced run: spans cost a context-manager call, no more."""

    def span(self, name: str):
        return nullcontext()

    def count(self, name: str, n: float = 1) -> None:
        pass


class CountingSource:
    """CatalogCandidateSource with a span and a counter on search.
    ``search`` only builds a plan; its execution is timed by the span
    of the action that runs it."""

    def __init__(self, tracks, albums, playlists, tracer):
        from musicflow_spark.matching import CatalogCandidateSource

        self.inner = CatalogCandidateSource(tracks, albums, playlists)
        self.tracer = tracer

    def search(self, queries, kind: str, limit: int = 50):
        self.tracer.count("matching.candidates.search_calls")
        with self.tracer.span("matching.candidates.search"):
            return self.inner.search(queries, kind, limit)


@contextmanager
def instrumented(tracer):
    """Wrap the engine and cache entry points with spans.  The
    pipeline imports the cache functions when ``musicflow_pipeline``
    is called, so this must be entered before that call."""
    import musicflow_spark.matching as matching
    from musicflow_spark.matching.engine import MatchEngine

    patches = [
        (MatchEngine, "compute_matches", "matching.engine.compute_matches"),
        (MatchEngine, "compute_matches_others", "matching.engine.compute_matches_others"),
        (MatchEngine, "assemble", "matching.engine.assemble"),
        (matching, "load_cache", "matching.cache.load"),
        (matching, "match_with_cache", "matching.cache.lookup"),
        (matching, "save_cache", "matching.cache.flush"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    try:
        for (owner, attr, name), (_, _, fn) in zip(patches, saved):
            setattr(owner, attr, tracer.wrap(name, fn))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def instrument_pipeline(pipe, tracer) -> None:
    """Span each Task callable as ``plans.dag.<task>`` and each
    materialisation as ``plans.dag.materialize`` (with a
    ``plans.marts.<model>`` child for the three marts)."""
    if isinstance(tracer, NullTracer):
        return
    for task in pipe.tasks:
        task.fn = tracer.wrap(f"plans.dag.{task.name}", task.fn)
    materialize = pipe._materialize

    def traced(model, df, how):
        with tracer.span("plans.dag.materialize"):
            if model in MARTS:
                with tracer.span(f"plans.marts.{model}"):
                    return materialize(model, df, how)
            return materialize(model, df, how)

    pipe._materialize = traced
