"""Guard: the KG chain is composed in one place, plans/pipeline.py's
stage graph (kg_stages). Any other module that calls the linking or
canonical-rewrite steps directly is a new hand-written copy of the chain,
with its own persist and checkpoint choices. perfbench/, tests/ and
oracle/ are not scanned: reference implementations and tests compose the
steps on purpose."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "joint_entity_and_relation_extraction_spark"

#: guarded step → files allowed to call it. linking.link_mentions (the
#: per-mention links operator) builds on resolve_surfaces in its own module.
ALLOWED = {
    "resolve_surfaces": {f"{PKG}/plans/pipeline.py",
                         f"{PKG}/operators/linking.py"},
    "canonical_triples_by_surface": {f"{PKG}/plans/pipeline.py"},
}


def _scanned_files():
    for d in (PKG, "jobs"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, d)):
            yield from (os.path.join(dirpath, n) for n in names
                        if n.endswith(".py"))
    yield from (os.path.join(ROOT, n) for n in os.listdir(ROOT)
                if n.endswith(".py"))


def _calls(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None)
            if name in ALLOWED:
                yield name, node.lineno


def test_only_the_stage_graph_composes_the_chain():
    found, offenders = set(), []
    for path in _scanned_files():
        rel = os.path.relpath(path, ROOT)
        for name, line in _calls(path):
            found.add((name, rel))
            if rel not in ALLOWED[name]:
                offenders.append(f"{rel}:{line} calls {name}")
    assert not offenders, (
        "compose the chain through plans/pipeline.kg_stages instead: "
        + "; ".join(offenders))
    # the scan sees the stage graph itself, so a miss is not vacuous
    assert {("resolve_surfaces", f"{PKG}/plans/pipeline.py"),
            ("canonical_triples_by_surface",
             f"{PKG}/plans/pipeline.py")} <= found
