"""Every top-level def in the package is reached from a query, a CLI verb,
the research pipeline, the run record, the session or the benchmark —
or is on the keep-list below with its reason.

Reachability is by name over the AST: a def is reached when its name
appears as a ``Name`` or ``Attribute`` node in root code or in a reached
def. Docstrings and comments are string constants, so naming a function
there does not keep it alive. Roots:

- every ``@register``-decorated query builder;
- every def in ``cli.py``, ``plans/pipeline.py``, ``obs.py`` and
  ``session.py``;
- module-level code of every package module;
- the names used by ``perfbench/`` (its harness, not its tests).
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "binance_futures_data_lake_spark"
ROOT_MODULES = {"cli.py", "plans/pipeline.py", "obs.py", "session.py"}

# Unreached from the roots, kept on purpose. One line of reason each.
KEEP = {
    ("streaming/pipeline.py", "compact_state"):
        "the only fold for the delta-state dirs streaming sinks write; "
        "pinned under fault injection by tests/test_state_compaction.py",
    ("streaming/pipeline.py", "compact_state_dir"):
        "compact_state's per-family worker, pinned by the same tests",
    ("operators/similarity.py", "pq_residual_codebooks_lloyd"):
        "OPERATORS.md's measured PQ deploy recommendation (flat PQ is its "
        "one-cell case); scale_check.py's ANN section runs it "
        "(pq_adc_topk_100q, pq_rerank_topk_100q)",
    ("operators/similarity.py", "_pq_lloyd_refine"):
        "the per-subspace Lloyd loop of the trainer above, run by the same "
        "scale_check.py ANN stages next to the deploy recommendation",
    ("operators/similarity.py", "fixed_point_cents"):
        "builds the centroids of the plan-shape pins in "
        "tests/test_r12_plan_shapes.py",
    ("operators/maintenance.py", "fix_meta"):
        "the reference's fix_meta.py: the only repair for an unparseable "
        "_meta.json, on which sources/poll.py fails",
}


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _is_register(dec) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(f, ast.Name) and f.id == "register"


def unreached_defs() -> set[tuple[str, str]]:
    defs: dict[tuple[str, str], ast.AST] = {}
    seen: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                seen |= _names(stmt)
            elif rel in ROOT_MODULES or any(map(_is_register, stmt.decorator_list)):
                seen |= _names(stmt)
            else:
                defs[(rel, stmt.name)] = stmt
    for path in sorted((ROOT / "perfbench").glob("*.py")):
        if not path.name.startswith("test_"):
            seen |= _names(ast.parse(path.read_text()))
    reached: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in reached and key[1] in seen:
                reached.add(key)
                seen |= _names(node)
                grew = True
    return set(defs) - reached


def test_unreached_defs_are_exactly_the_keep_list():
    assert unreached_defs() == set(KEEP)
