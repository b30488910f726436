"""One materialization primitive: a cache or checkpoint that plan audits
must see through goes through ``plan_audit.cached`` /
``plan_audit.checkpoint``. The direct ``persist``/``unpersist``/
``cache``/``localCheckpoint``/``checkpoint`` method calls left in the
package are listed below with the reason each stays hand-written; a new
hand-written lifecycle changes a count and fails here."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "ideafast_etl_spark"
DIRECT = {"persist", "unpersist", "cache", "localCheckpoint", "checkpoint"}

# file (relative to the package) -> (direct calls, why they stay direct)
ALLOWED = {
    "pipeline/dreem.py": (
        1,
        "upload-once checkpoint of the poll results: ungated for "
        "correctness, the upload side effect must run exactly once",
    ),
    "operators/ranking.py": (
        2,
        "sampled-range checkpoints: ungated for correctness, partition "
        "sizes and ranked rows must see the same range partitioning",
    ),
    "operators/tokenizer.py": (
        2,
        "BPE per-merge vocab lineage cut (lazy): ungated, the merge loop "
        "collects every iteration even in plan audits",
    ),
    "operators/pq.py": (
        2,
        "train_from_pts per-iteration codebook checkpoints: ungated "
        "loop-carried relation feeding a broadcast build",
    ),
    "operators/clustering.py": (
        7,
        "k-means per-iteration centroid checkpoints (ungated loop-carried "
        "relation feeding a broadcast build) and kmeans_assign_hierarchical's "
        "ungated loop-carried point cache and final assignment checkpoint",
    ),
    "operators/graph.py": (
        5,
        "pagerank: ungated loop-carried edge/node/out-degree caches and "
        "per-iteration rank checkpoints",
    ),
    "operators/dedup.py": (
        14,
        "near_dup_clusters' ungated loop-carried edge/label caches and "
        "ngram_jaccard_pairs' ungated shingle cache with its hot-shingle "
        "swap",
    ),
}


def direct_calls(source: str) -> int:
    """Method calls named in ``DIRECT``, except through ``plan_audit.``;
    comments, docstrings and the bare ``checkpoint(df)`` helper do not
    count."""
    return sum(
        1
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in DIRECT
        and not (isinstance(node.func.value, ast.Name)
                 and node.func.value.id == "plan_audit")
    )


def test_counter_sees_calls_not_text():
    src = (
        '"""df.persist() in a docstring"""\n'
        "# df.localCheckpoint() in a comment\n"
        "a = df.cache()\n"
        "b = df.checkpoint(eager=True)\n"
        "c = checkpoint(df)\n"
        "d = plan_audit.checkpoint(df)\n"
        "a.unpersist()\n"
    )
    assert direct_calls(src) == 3


def test_direct_materializations_match_allowlist():
    counts = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "plan_audit.py":
            continue
        n = direct_calls(path.read_text())
        if n:
            counts[rel] = n
    assert counts == {f: n for f, (n, _why) in ALLOWED.items()}
