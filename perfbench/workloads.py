"""The benchmark's workloads: which registered queries run, on which data.

Query lists are frozen here by name, so a later change to ``bench.py``'s
HEADLINE list cannot silently change what this benchmark measures; a
renamed or removed query fails the run instead.

Each list is a small sample: a run pays about 20 s of JVM start and
first-query JIT before it times anything, checks every query against the
oracle, and the whole benchmark (every workload, 22 runs each, plus set-up)
must fit in under an hour on a 4-core host.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# Oracle-backed HEADLINE members picked by measured build share: a
# three-table TPC-H join with top-k, a scan-aggregate, and the flagship
# windowed sessionization over events.  In a warm probe of 125 HEADLINE
# queries at sf0.1 on a 4-core host, building the plan took 46% of the
# summed time and the median query's build share was 0.41; these three read
# 0.39, 0.41 and 0.42.  The funnel, timeseries, stats, temporal, cohort,
# eda and quality families are not sampled: every member adds a cold,
# oracle-checked execution per tier and a share of every pass.
OLAP = (
    "tpch_q3_shipping_priority",
    "agg_pricing_summary",
    "flagship_sessionization",
)

# Tables the tier generator replicates with key offsets, plus the
# dimensions it copies unchanged.  A query may run on a tier only if its
# oracle reads nothing else: documents and embeddings are not replicated,
# and replicating them would create duplicates for dedup and ANN queries.
REPLICATION_SAFE = frozenset(
    {"lineitem", "orders", "customer", "events", "part", "supplier", "nation", "region"}
)
_TABLE_RE = re.compile(r"\b(lineitem|orders|customer|events|part|supplier|nation|region|documents|embeddings)\b")


def replication_safe(sql: str | None) -> bool:
    """True when an oracle-backed query reads only replication-safe tables."""
    return sql is not None and set(_TABLE_RE.findall(sql)) <= REPLICATION_SAFE


# One member per layer the relational workload does not reach: a stateful
# stream drain (state store, micro-batches), an Arrow Python-worker kernel,
# a persisted index written and read back, and an MLlib fit.
STREAM_LIFECYCLE = (
    "streaming_dedup",
    "embedding_anisotropy_audit",
    "dedup_against_signature_index",
    "ml_kmeans_quality_contract",
)

@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    tiers: tuple[int, ...]  # 1 = the base; k > 1 = the base replicated k times
    pass_s: float  # nominal time of one timed pass on a 4-core host
    sf: float = 0.1

    def passes(self, seconds: float) -> int:
        """Whole nominal passes that fit in ``seconds`` (at least one): a
        count fixed by the request, not by how fast this run happens to be,
        so every run of a workload measures the same work."""
        return max(1, int(seconds // self.pass_s))


def data_dir(root: str, tier: int) -> str:
    return f"{root}/base" if tier == 1 else f"{root}/x{tier}"


def members(wl: Workload, registry) -> list[tuple[str, object, int]]:
    """(label, spec, tier) for every query execution of one pass.  On a
    tier, only replication-safe queries run (the rule, not a list)."""
    out = []
    for tier in wl.tiers:
        for name in wl.queries:
            spec = registry[name]
            if tier == 1 or replication_safe(spec.sql):
                out.append((f"{name}@x{tier}", spec, tier))
    return out


WORKLOADS = {
    w.name: w
    for w in (
        # sf0.1 (600k lineitem), where building the plan is about as long as
        # executing it, and a 4x tier, where execution grows and build does not
        Workload("olap", OLAP, (1, 4), pass_s=5.0),
        # sf0.01 (10k events): drains and fits are dominated by per-batch and
        # per-job fixed cost, which the smaller input keeps
        Workload("stream_lifecycle", STREAM_LIFECYCLE, (1,), pass_s=6.5, sf=0.01),
    )
}
