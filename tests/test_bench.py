"""bench.py's JSON line from perfbench records (no Spark)."""

from __future__ import annotations

import pytest

import bench


def _record(docs_per_s: float, nproc: int = 4, failed: int = 0, **extra) -> dict:
    return {
        "nproc": nproc,
        "e2e": {"docs_per_s": docs_per_s, "cpu_ms_per_doc": 0.9, "setup_s": 13.0,
                "op_walls": [1.0, 1.1]},
        "micro": {"kernel.decode_us_per_page": 24.0},
        "steal_s": 0.5,
        "attempted": 4,
        "failed": failed,
        **extra,
    }


def _records(**route_kw) -> dict:
    return {
        "route": _record(4800.0, **route_kw),
        "queries": _record(0.0, per_query_s={"q1_pricing_summary": 0.2}),
    }


def _round(first: str, n: float, big: float, failed: int = 0) -> dict:
    return {"first": first, "N": _record(n, nproc=1), "4N": _record(big, failed=failed)}


def test_kept_keys_and_value_from_route():
    line = bench.summarize(_records(), [_round("N", 1000.0, 3200.0)], nproc=4)
    assert {"metric", "value", "unit", "queries", "workloads", "scaling", "correct"} <= set(line)
    assert line["value"] == 4800.0
    assert line["unit"] == "pages/s"
    assert line["queries"] == {"q1_pricing_summary": 0.2}
    assert "op_walls" not in line["workloads"]["route"]
    assert line["workloads"]["route"]["kernel.decode_us_per_page"] == 24.0
    assert line["correct"] is True


def test_efficiency_per_round_median_and_range():
    rounds = [_round("N", 1000.0, 3200.0), _round("4N", 1000.0, 2000.0),
              _round("N", 2000.0, 6000.0)]
    s = bench.summarize(_records(), rounds, nproc=4)["scaling"]
    assert [r["efficiency"] for r in s["rounds"]] == pytest.approx([0.8, 0.5, 0.75])
    assert [r["first"] for r in s["rounds"]] == ["N", "4N", "N"]
    assert s["median"] == pytest.approx(0.75)
    assert (s["min"], s["max"]) == pytest.approx((0.5, 0.8))
    assert s["rounds"][0]["N"] == {"cpus": 1, "docs_per_s": 1000.0,
                                   "decode_us_per_page": 24.0, "steal_s": 0.5}


def test_any_failed_run_makes_the_line_incorrect():
    assert bench.summarize(_records(failed=1), [_round("N", 1.0, 4.0)], 4)["correct"] is False
    failed_leg = [_round("N", 1.0, 4.0, failed=2)]
    assert bench.summarize(_records(), failed_leg, 4)["correct"] is False


def test_no_scaling_below_four_cpus():
    line = bench.summarize(_records(), [], nproc=2)
    assert line["scaling"] is None
    assert "4 CPUs" in line["scaling_reason"]
    assert line["correct"] is True


def test_perfbench_layer_calls_resolve(monkeypatch):
    """perfbench's ``Tracer`` patches the engine's entry points by name, so
    a renamed or removed one fails here instead of in a traced run."""
    import importlib
    import importlib.util
    import sys
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"
    spec = importlib.util.spec_from_file_location("perfbench_tracing", path)
    tracing = importlib.util.module_from_spec(spec)
    # registered first: its dataclasses resolve annotations through it
    monkeypatch.setitem(sys.modules, spec.name, tracing)
    spec.loader.exec_module(tracing)
    for mod_name, attr in tracing.LAYER_CALLS + tracing.ACTIONS:
        if not mod_name.startswith("pyspark"):
            mod_name = f"{tracing.PKG}.{mod_name}"
        owner = importlib.import_module(mod_name)
        for part in attr.split("."):
            assert hasattr(owner, part), f"{mod_name}.{attr}"
            owner = getattr(owner, part)
        assert callable(owner), f"{mod_name}.{attr}"


def test_scripts_engine_names_resolve():
    """The scripts and ``bench.py`` import engine names inside functions,
    so a renamed or removed one would fail only when the script runs.
    Every ``mysql_cdc_rs_spark`` name they import, and every ``ALIAS.attr``
    they read off an imported engine module, must resolve."""
    import ast
    import importlib
    import types
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    pkg = "mysql_cdc_rs_spark"

    def member(where: str, module: str, name: str):
        owner = importlib.import_module(module)
        if not hasattr(owner, name):  # maybe a submodule not imported yet
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                pass
        assert hasattr(owner, name), f"{where}: {module}.{name}"
        return getattr(owner, name)

    checked = set()
    for path in [repo / "bench.py", *sorted((repo / "scripts").glob("*.py"))]:
        tree = ast.parse(path.read_text(), str(path))
        modules = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == pkg and a.asname:
                        modules[a.asname] = importlib.import_module(a.name)
            elif isinstance(node, ast.ImportFrom) and (
                (node.module or "").split(".")[0] == pkg
            ):
                for a in node.names:
                    value = member(path.name, node.module, a.name)
                    checked.add((path.name, f"{node.module}.{a.name}"))
                    if isinstance(value, types.ModuleType):
                        modules[a.asname or a.name] = value
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
            ):
                ref = f"{node.value.id}.{node.attr}"
                assert hasattr(modules[node.value.id], node.attr), f"{path.name}: {ref}"
                checked.add((path.name, ref))
    assert ("bench_seen_probe.py", "DD.keep_first_drops") in checked
    assert ("soak_stream_curation.py", "mysql_cdc_rs_spark.plans.training_pipeline.curate") in checked


def test_engine_names_have_a_caller_or_a_coverage_row():
    """Every public top-level ``def``/``class`` of the engine is either
    referenced, outside its own definition, by the engine, ``scripts/``,
    ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``, or named inside
    a backticked span of COVERAGE.md.  A name that only a test calls, and
    that maps to no reference capability, is code nothing here runs."""
    import ast
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    engine = sorted((repo / "mysql_cdc_rs_spark").rglob("*.py"))
    callers = [
        *engine,
        *sorted((repo / "scripts").glob("*.py")),
        *sorted((repo / "perfbench").glob("*.py")),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]

    def names_in(node) -> set[str]:
        """Identifiers ``node`` uses: names, attributes, imported names and
        dotted-identifier strings (perfbench patches entry points by name)."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and re.fullmatch(r"[A-Za-z_][\w.]*", n.value)
            ):
                out.update(n.value.split("."))
        return out

    defined = {}  # name -> [(path, index of its top-level node)]
    referenced = {}  # (path, index of a top-level node) -> names it uses
    for path in callers:
        tree = ast.parse(path.read_text(), str(path))
        for i, node in enumerate(tree.body):
            referenced[(path, i)] = names_in(node)
            if (
                path in engine
                and isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
            ):
                defined.setdefault(node.name, []).append((path, i))
    coverage = set()
    for span in re.findall(r"`([^`\n]+)`", (repo / "COVERAGE.md").read_text()):
        coverage.update(re.findall(r"\w+", span))

    orphans = sorted(
        f"{paths[0][0].relative_to(repo)}::{name}"
        for name, paths in defined.items()
        if name not in coverage
        and not any(
            name in names
            for key, names in referenced.items()
            if key not in paths
        )
    )
    assert not orphans, "no caller and no COVERAGE row:\n" + "\n".join(orphans)
