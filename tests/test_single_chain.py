"""Guards: the KG chain is composed in one place, plans/pipeline.py's
stage graph (kg_stages), and the MinHash candidate→verify step in one
place, operators/dedup.py's band_candidates / jaccard_verified. Any other
module that calls the linking, canonical-rewrite or G1 aggregate steps
directly, builds a band equi-join or computes a shingle-set Jaccard is a
new hand-written copy, with its own persist and checkpoint choices.
IcebergLite snapshots are committed in one place too,
sources/iceberglite._commit_snapshot: a writer that takes the metadata
lock or swaps the manifest itself is a hand-written commit protocol.
perfbench/, tests/ and oracle/ are not scanned: reference implementations
and tests compose the steps on purpose."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "joint_entity_and_relation_extraction_spark"

#: guarded step → files allowed to call it. linking.link_mentions (the
#: per-mention links operator) builds on resolve_surfaces in its own module;
#: incremental.merge_triple_evidence builds its batch delta on
#: aggregate_triples.
ALLOWED = {
    "resolve_surfaces": {f"{PKG}/plans/pipeline.py",
                         f"{PKG}/operators/linking.py"},
    "resolution_edges": {f"{PKG}/plans/pipeline.py"},
    "surface_canon_map": {f"{PKG}/plans/pipeline.py"},
    "canonical_triples_by_surface": {f"{PKG}/plans/pipeline.py"},
    "aggregate_triples": {f"{PKG}/plans/incremental.py",
                          f"{PKG}/plans/pipeline.py"},
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
            ("resolution_edges", f"{PKG}/plans/pipeline.py"),
            ("surface_canon_map", f"{PKG}/plans/pipeline.py"),
            ("canonical_triples_by_surface", f"{PKG}/plans/pipeline.py"),
            ("aggregate_triples", f"{PKG}/plans/incremental.py"),
            ("aggregate_triples", f"{PKG}/plans/pipeline.py")} <= found


#: single-copy expression → the (file, enclosing function) allowed to
#: build it. linking.resolve_surfaces verifies fuzzy surface matches with
#: its own Jaccard over features carried on the band rows.
SINGLE_COPY = {
    ("col", "a.band"): {(f"{PKG}/operators/dedup.py", "band_candidates")},
    ("array_intersect", None): {
        (f"{PKG}/operators/dedup.py", "jaccard_verified"),
        (f"{PKG}/operators/linking.py", "resolve_surfaces")},
}


def _single_copy_sites(path, table=SINGLE_COPY):
    """(key, enclosing function, line) of every call in ``table``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f_ = child.func
                name = f_.attr if isinstance(f_, ast.Attribute) else getattr(
                    f_, "id", None)
                arg = (child.args[0].value if child.args
                       and isinstance(child.args[0], ast.Constant) else None)
                for key in ((name, arg), (name, None)):
                    if key in table:
                        yield key, fn, child.lineno
            yield from visit(child, fn)

    yield from visit(tree, None)


def test_minhash_candidate_verify_has_one_copy():
    found, offenders = set(), []
    for path in _scanned_files():
        rel = os.path.relpath(path, ROOT)
        for key, fn, line in _single_copy_sites(path):
            found.add((key, rel, fn))
            if (rel, fn) not in SINGLE_COPY[key]:
                what = key[0] if key[1] is None else f"{key[0]}({key[1]!r})"
                offenders.append(f"{rel}:{line} ({fn}) builds {what}")
    assert not offenders, (
        "build MinHash candidate→verify on dedup.band_candidates / "
        "verify_candidates instead: " + "; ".join(offenders))
    # every allowed site is seen, so a renamed helper is not a vacuous pass
    assert {(k, rel, fn) for k, sites in SINGLE_COPY.items()
            for rel, fn in sites} <= found


#: the functions allowed to take IcebergLite's metadata lock or swap its
#: manifest: _commit_snapshot adds every snapshot; publish and
#: expire_snapshots add none (they move the pointer or drop history)
_ICEBERG = f"{PKG}/sources/iceberglite.py"
ONE_COMMIT = {
    (call, None): {(_ICEBERG, fn) for fn in (
        "_commit_snapshot", "publish", "expire_snapshots")}
    for call in ("_meta_lock", "_commit")
}


def test_iceberglite_commits_through_one_function():
    found, offenders = set(), []
    for path in _scanned_files():
        rel = os.path.relpath(path, ROOT)
        for key, fn, line in _single_copy_sites(path, ONE_COMMIT):
            found.add((key, rel, fn))
            if (rel, fn) not in ONE_COMMIT[key]:
                offenders.append(f"{rel}:{line} ({fn}) calls {key[0]}")
    assert not offenders, (
        "commit IcebergLite snapshots through iceberglite._commit_snapshot "
        "instead: " + "; ".join(offenders))
    # the scan sees the commit function itself, so a miss is not vacuous
    assert {(k, rel, fn) for k, sites in ONE_COMMIT.items()
            for rel, fn in sites} <= found
