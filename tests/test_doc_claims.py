"""The repo's front-page correctness claims (README.md, SURVEY.md §8) state
a verified-query count.  Rounds 5 and 6 both shipped with that number stale
(the r6 verdict called it out twice) — these tests pin every stated count to
``len(REGISTRY)`` so the docs can't drift from the code again.
"""

import re
from pathlib import Path

from lightfusion_spark.corpus.registry import REGISTRY

REPO = Path(__file__).resolve().parent.parent


def _counts():
    n = len(REGISTRY)
    n_oracle = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    return n, n_oracle


def test_readme_query_count_matches_registry():
    text = (REPO / "README.md").read_text()
    n, n_oracle = _counts()
    assert f"{n} queries" in text, (
        f"README.md claims a stale query count (registry has {n}); "
        "update the two counts in the relational-surface bullet"
    )
    assert f"{n_oracle}/{n_oracle} at sf0.01" in text, (
        f"README.md parity claim is stale ({n_oracle} oracle-backed queries)"
    )
    # no OTHER '<number> queries' or 'N/N at sf' claims left behind
    for m in re.finditer(r"(\d+) queries", text):
        assert int(m.group(1)) == n, f"stale count in README.md: {m.group(0)}"


def test_survey_parity_count_matches_registry():
    text = (REPO / "SURVEY.md").read_text()
    _, n_oracle = _counts()
    assert f"{n_oracle}/{n_oracle} exact" in text, (
        f"SURVEY.md §8 parity claim is stale ({n_oracle} oracle-backed queries)"
    )


def test_bench_queries_all_registered():
    """A typo'd bench entry crashes bench.py at round end (rc != 0) —
    cheaper to catch here."""
    import bench

    missing = [n for n in bench.BENCH_QUERIES if n not in REGISTRY]
    assert not missing, f"bench names not in REGISTRY: {missing}"


def test_one_session_builder():
    """``lightfusion_spark/session.py`` (``spark_conf`` / ``start_spark``) is
    the one place outside the benchmark-owned ``perfbench/`` that builds a
    Spark session, so every entry point gets the same session shape."""
    session_py = REPO / "lightfusion_spark" / "session.py"
    files = [
        REPO / "bench.py",
        *(REPO / "tools").rglob("*.py"),
        *(REPO / "lightfusion_spark").rglob("*.py"),
    ]
    offenders = [
        str(p.relative_to(REPO))
        for p in files
        if p != session_py
        and re.search(r"SparkSession\.builder|SparkConf\(", p.read_text())
    ]
    assert not offenders, f"build sessions through session.spark_conf: {offenders}"


def test_one_paired_bootstrap_summary():
    """The eight paired bootstraps share one replicate explode
    (``evalmetrics._boot_replicates``) and one interval/win-count summary
    (``evalmetrics._paired_bootstrap_report``): the explode and the
    nearest-rank upper bound are each written once in the package."""
    sources = [p.read_text() for p in (REPO / "lightfusion_spark").rglob("*.py")]
    for needle in ("975 // 1000", "F.sequence(F.lit(-1)"):
        n = sum(src.count(needle) for src in sources)
        assert n == 1, f"{needle!r} appears {n} times under lightfusion_spark/"


def test_one_reference_clipped_cell_fold():
    """BLEU, chrF and ROUGE cells (one-shot, per-system and paired) come
    from one fold, ``evalmetrics._clip_fold``: Hyyro's LCS step is
    written once in the package and ``evalmetrics`` runs one
    ``mapInPandas``."""
    sources = [p.read_text() for p in (REPO / "lightfusion_spark").rglob("*.py")]
    n = sum(src.count("(v + u) | (v - u)") for src in sources)
    assert n == 1, f"Hyyro's step appears {n} times under lightfusion_spark/"
    em = (REPO / "lightfusion_spark" / "operators" / "evalmetrics.py").read_text()
    n = em.count(".mapInPandas(")
    assert n == 1, f".mapInPandas( appears {n} times in evalmetrics.py"


def test_one_fixed_point_loop():
    """PageRank, personalized PageRank, label propagation, k-core and the
    two-phase connected components run their rounds through one driver,
    ``fanout.fixed_point``: the graph modules pin only through
    ``fanout.pin``, the dropped options are gone, and the five loops share
    one exhaustion warning."""
    ops = REPO / "lightfusion_spark" / "operators"
    src = {n: (ops / n).read_text() for n in ("webgraph.py", "dedup.py", "fanout.py")}
    for n in ("webgraph.py", "dedup.py"):
        assert ".localCheckpoint(" not in src[n], n
    for p in (REPO / "lightfusion_spark").rglob("*.py"):
        for gone in ("checkpoint_interval", "last_cc_rounds", "_cc_propagation"):
            assert gone not in p.read_text(), f"{gone} in {p.relative_to(REPO)}"
    n = sum(s.count("warnings.warn(") for s in src.values())
    assert n == 1, f"{n} warning sites in webgraph.py, dedup.py and fanout.py"
    assert "warnings.warn(exhausted, RuntimeWarning" in src["fanout.py"]
