"""Connected components over near-dup pair lists (iterative operator).

Dedup pipelines end with cluster formation: the pair list from exact/
minhash/embedding dedup becomes connected components, and each component
keeps one canonical document. This is the engine's iterative-algorithm
surface (SURVEY §2.2 'non-SQL-expressible ops'): a driver-side loop of
DataFrame steps, converging in O(log n) rounds.

Algorithm — alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14; also the
algorithm behind GraphFrames' connectedComponents): each round rewires
the edge set itself rather than propagating labels hop-by-hop.
Large-star connects every neighbor LARGER than u to u's minimum
neighborhood label m(u); small-star connects every neighbor ≤ u (and u)
to m(u). Alternating the two contracts components onto their minimum
node in O(log n) rounds REGARDLESS of graph diameter — the property
min-label propagation (the previous implementation here) lacks: a
k-node chain cost it Θ(log k)–Θ(k) rounds, each a full edge shuffle.
Every round is two neighborhood aggregations + broadcast-or-shuffle
joins keyed on node — embarrassingly parallel at 100 TB, nothing
driver-side but the convergence counter. The loop localCheckpoints
every round to truncate lineage that Catalyst would otherwise
re-analyze (iterative plans grow exponentially without it). Exhausting
max_rounds without convergence RAISES — a silently-unconverged labeling
would merge or split clusters wrongly downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries import dedup as _dedup  # the pair query and its oracle
from ..queries.registry import REGISTRY, query

MAX_ROUNDS = 20


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m(u)) for every neighbor v > u, where m(u) = min(Γ(u) ∪ {u}).
    `edges` is the symmetric neighbor list (a, b); returns canonical
    (hi, lo) directed edges."""
    mins = (
        edges.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select("a", F.least("a", "mn").alias("m"))
    )
    return (
        edges.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _small_star(star: DataFrame) -> DataFrame:
    """Input (hi, lo) edges; for each hi, connect lo-neighbors ∪ {hi} to
    the minimum of that set. Returns canonical (hi, lo) edges."""
    mins = star.groupBy("hi").agg(F.min("lo").alias("m"))
    rewired = (
        star.join(mins, "hi")
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        .union(mins.select(F.col("hi"), F.col("m").alias("lo")))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )
    return rewired


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = MAX_ROUNDS,
    return_rounds: bool = False,
) -> DataFrame:
    """Return (node, comp) where comp = min node id reachable through the
    pair graph. Nodes appearing in no pair are absent (callers union
    isolated nodes back if needed). With ``return_rounds`` returns
    (labels, rounds_used) so tests can pin the O(log n) round bound."""
    nodes = (
        pairs.select(F.col(src).alias("node"))
        .union(pairs.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    star = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for rnd in range(1, max_rounds + 1):
        sym = star.select(F.col("hi").alias("a"), F.col("lo").alias("b")).union(
            star.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        new_star = _small_star(_large_star(sym)).localCheckpoint(eager=True)
        # Converged when the edge set is a fixed point (all stars point at
        # their component minimum): same cardinality and no novel edges.
        same = (
            new_star.count() == star.count()
            and new_star.exceptAll(star).limit(1).count() == 0
        )
        star = new_star
        if same:
            labels = nodes.join(
                star.select(F.col("hi").alias("node"), F.col("lo").alias("comp")),
                "node",
                "left",
            ).select("node", F.coalesce("comp", "node").alias("comp"))
            return (labels, rnd) if return_rounds else labels
    raise RuntimeError(
        f"connected_components did not converge within {max_rounds} rounds; "
        "raise max_rounds (labels would be silently wrong otherwise)"
    )


@query(
    "q_dedup_clusters",
    # The engine side is iterative (pointer-doubling rounds), but its
    # RESULT is SQL-expressible: a recursive CTE over the same pair list
    # computes, per node, the minimum label among all reachable nodes —
    # exactly the component labeling min-propagation converges to. The
    # pair CTE is the registered q_dedup_ngram_jaccard oracle verbatim,
    # so both engines cluster the identical edge set.
    oracle=f"""
    WITH RECURSIVE pairs AS ({REGISTRY["q_dedup_ngram_jaccard"].oracle}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node)
    SELECT comp, COUNT(*) AS n_docs, MIN(node) AS canonical_doc, MAX(node) AS max_doc
    FROM cc GROUP BY comp
    """,
    tags=("dedup", "clusters", "iterative"),
)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster formation: connected components over the bigram-
    Jaccard pair graph, per-cluster stats, canonical doc = min doc_id
    (the q_dedup_exact winner rule). The iterative engine path is
    hash-checked against a recursive-CTE oracle (min reachable label);
    a driver-side union-find additionally cross-checks it in tests."""
    pairs = _dedup.q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs)
    return comps.groupBy("comp").agg(
        F.count("*").alias("n_docs"),
        F.min("node").alias("canonical_doc"),
        F.max("node").alias("max_doc"),
    )
