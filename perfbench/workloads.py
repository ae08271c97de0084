"""The benchmark's workloads: which registry queries run, at which scale,
and how each result leaves the engine.

Each workload is one fixed query list. A pass runs the list once, one
query at a time (closed loop, one client). Why each list exists, and which
layers it is meant to move or leave alone, is in ``perfbench/README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: str  # testdata scale-factor directory name, e.g. "sf0.1"
    sink: str  # "noop": discard the result; "parquet": io.write_table
    persist: bool  # catalog.enable_table_persist for the session
    vector_sink: tuple[str, ...] = ()  # also written through qa_vector


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "corpus_build",
            (
                "ingest_normalize_posts",
                "ingest_keep_first",
                "flatten_comment_tree",
                "chunk_documents",
                "embed_documents",
            ),
            sf="sf0.1",
            sink="parquet",
            persist=True,
            vector_sink=("embed_documents",),
        ),
        Workload(
            "iterative_streaming",
            (
                "pagerank_cust_supp",
                "streaming_events_hourly",
            ),
            sf="sf0.001",
            sink="noop",
            persist=False,
        ),
    )
}
