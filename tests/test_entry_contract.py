"""Driver-contract sanity: entry() runs, queries()/oracle_sql() consistent,
partitioned checkpoint writes get partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    n = df.count()
    assert n > 0
    assert df.columns == ["word_a", "word_b", "block_key", "jwdist", "predicted"]
    # stable schema on rerun
    assert E.entry(spark).schema == df.schema


def test_queries_oracle_consistency():
    import __spark_entry__ as E

    q = E.queries()
    o = E.oracle_sql()
    assert len(q) >= 45
    assert set(o) <= set(q)  # every oracle belongs to a query
    missing_oracle = sorted(set(q) - set(o))
    assert missing_oracle == []  # full oracle coverage this round


def test_queries_run_at_smoke_scale(spark):
    """Every registered query must at least execute at sf0.001 (value parity
    is the driver's DuckDB job; this guards against bitrot)."""
    import __spark_entry__ as E

    for name, fn in E.queries().items():
        n = fn(spark, "/root/testdata/sf0.001").count()
        assert n >= 0, name


def test_partitioned_checkpoint_pruning(spark, pages, tmp_path):
    """Year-partitioned record checkpoints (the Iceberg partition layout)
    get partition pruning: a year filter shows up as PartitionFilters, not a
    data filter."""
    from capelinker_spark.extract import extract_records

    rec = extract_records(pages, with_spousenamedist=False)
    path = str(tmp_path / "records_by_year")
    rec.write.mode("overwrite").partitionBy("year").parquet(path)
    back = spark.read.parquet(path).where(F.col("year") == 1828)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "(year" in plan.split("PartitionFilters:")[1][:120]
    assert back.count() > 0


def test_sorted_neighborhood_plan_is_parallel(spark):
    """The global-position assignment must NOT funnel through a single-task
    window (round-1 scale-killer): no `Exchange SinglePartition` anywhere in
    the physical plan."""
    import __spark_entry__ as E

    df = E.queries()["j3_sorted_neighborhood"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_uniformise_plan_is_parallel(spark):
    """uniformise_strings must not mint dense node ids through a global
    un-partitioned row_number window (the round-2 audit's last
    Exchange-SinglePartition): CC runs on the strings themselves, so the
    whole physical plan is partition-parallel."""
    import __spark_entry__ as E

    df = E.queries()["u4_uniformise_strings"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_spousenamedist_join_not_forced_broadcast(spark, pages):
    """extract_records must not hint an unconditional broadcast of the
    distinct name-pair table (unbounded cardinality at web scale) — the
    LOGICAL plan must carry no user broadcast hint; AQE decides at runtime."""
    from capelinker_spark.extract import extract_records

    rec = extract_records(pages, with_spousenamedist=True)
    logical = rec._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in logical.lower(), logical


def test_decontaminate_plan_broadcasts_grams(spark):
    """flag_contaminated's corpus side must stay shuffle-free: the
    contamination n-grams broadcast into a LeftSemi BroadcastHashJoin
    probed by the exploded corpus shingles. A SortMergeJoin there would
    mean the CORPUS shuffled on the gram key — the exact thing the
    operator exists to avoid at 100 TB."""
    import __spark_entry__ as E

    df = E.queries()["dd7_decontaminate"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi, BuildRight" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# Package modules no entry point imports, each kept for a stated reason.
_UNREACHED_BY_DESIGN = {
    "capelinker_spark.ref_extract": "byte-identity oracle of test_extract.py",
    "capelinker_spark.ml.gbt": "SURVEY model-object capability",
    "capelinker_spark.ml.registry": "SURVEY model-object capability",
}


def _imported_modules(mod, root):
    """Repo-local modules that module ``mod`` (a dotted name relative to
    ``root``; packages end in ``.__init__``) imports, function-local
    imports included. A submodule import also runs its packages'
    ``__init__``."""
    import ast
    import os

    here = mod.split(".")[:-1]

    def resolve(dotted):
        for base in ([], here):  # repo root, then the importer's directory
            parts = base + dotted.split(".")
            stem = os.path.join(root, *parts)
            if os.path.isfile(stem + ".py"):
                return ".".join(parts)
            if os.path.isfile(os.path.join(stem, "__init__.py")):
                return ".".join(parts + ["__init__"])
        return None

    with open(os.path.join(root, *mod.split(".")) + ".py") as f:
        tree = ast.parse(f.read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = here[: len(here) - (node.level - 1)]
                base = ".".join(up + ([base] if base else []))
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            for k in range(1, len(parts) + 1):
                hit = resolve(".".join(parts[:k]))
                if hit and (k == len(parts) or hit.endswith(".__init__")):
                    found.add(hit)
    return found


def test_every_package_module_is_reachable():
    """Every capelinker_spark module is imported, directly or not, from an
    entry point (the driver contract, bench.py, tools/, perfbench/) —
    except the few kept on purpose. A module nothing reaches is dead code
    to delete, not to carry."""
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def names(pattern):
        return {
            os.path.relpath(p, root)[: -len(".py")].replace(os.sep, ".")
            for p in glob.glob(os.path.join(root, pattern), recursive=True)
        }

    todo = names("__spark_entry__.py") | names("bench.py") | names("tools/*.py")
    todo |= {m for m in names("perfbench/*.py") if ".test_" not in m}
    reached = set()
    while todo:
        mod = todo.pop()
        reached.add(mod)
        todo |= _imported_modules(mod, root) - reached

    unreached = {
        m.removesuffix(".__init__")
        for m in names("capelinker_spark/**/*.py") - reached
    }
    assert unreached == set(_UNREACHED_BY_DESIGN), sorted(
        unreached ^ set(_UNREACHED_BY_DESIGN)
    )
