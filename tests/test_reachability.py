"""Every package module is reached by a product path.

A static ``ast`` walk over the package's imports, starting from the four
entry points: the CLI job (``jobs.py``), the query surface
(``__spark_entry__.py``) and the two streaming sinks.  A module that no
walk reaches is code only its own tests run: wire it into a product path
or delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "pdf_ocr_batch_ndrocr_lite_spark"
ROOTS = [
    REPO / PKG / "jobs.py",
    REPO / "__spark_entry__.py",
    REPO / PKG / "streaming" / "extract_stream.py",
    REPO / PKG / "streaming" / "dedup_stream.py",
]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path, modules) -> set:
    """Package modules one file imports, anywhere in its body (function-
    level imports included); ``from X import y`` counts ``X.y`` when that
    is a module, and every importer of a submodule reaches its parents."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[:len(base) - (node.level - 1)]
                if node.module:
                    base.append(node.module)
                target = ".".join(base)
            else:
                target = node.module or ""
            found.add(target)
            found.update(f"{target}.{alias.name}" for alias in node.names)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                reached.add(prefix)
    return reached


def test_every_package_module_is_reached_from_a_product_path():
    modules = {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}
    reached = {_module_name(p) for p in ROOTS}
    todo = list(ROOTS)
    while todo:
        for mod in _imported(todo.pop(), modules) - reached:
            reached.add(mod)
            todo.append(modules[mod])
    unreached = sorted(set(modules) - reached)
    assert not unreached, (
        "package modules no product path imports (wire them into jobs.py, "
        f"__spark_entry__.py or a streaming sink, or delete them): "
        f"{unreached}")


# ---------------------------------------------------------------------------
# The operator surface: every public function in operators/, plans/,
# streaming/, functions/ and sources/ is reached by a product caller, and
# every defaulted keyword parameter on it is set by one.  A product caller
# is the CLI job, the query surface, the bench, the perfbench harness, or
# the package's own surface code; tests do not count.  Calls match by function
# name (``f(...)`` or ``mod.f(...)``); a parameter counts as set when a
# call passes it by keyword, by position, or through ``**NAME`` where NAME
# is a module-level dict literal.
# ---------------------------------------------------------------------------

SURFACE = [REPO / PKG / d for d in ("operators", "plans", "streaming",
                                    "functions", "sources")]
PRODUCT_CALLERS = sorted(
    [REPO / PKG / "jobs.py", REPO / "__spark_entry__.py", REPO / "bench.py"]
    + [p for d in SURFACE + [REPO / "perfbench"] for p in d.glob("*.py")])
# the streaming sinks' entry points: started by a deployment, not called
ROOT_FUNCTIONS = {"start_extraction_stream", "start_incremental_dedup_stream"}
# Unset knobs that stay.  Each is either a knob a test sets to drive a
# guard or a hand-computed case at small size, or a deployment setting.
KNOB_ALLOWLIST = {
    # salt-split guards (hot-bucket caps, salt fan-out), driven at small size
    "dedup.minhash_lsh_candidates.bucket_cap",
    "dedup.minhash_lsh_candidates.max_salts",
    "dedup.incremental_minhash_dedup.bucket_cap",
    "dedup.incremental_minhash_dedup.max_salts",
    "dedup.simhash_near_dup_pairs.bucket_cap",
    "dedup.embedding_near_dup_pairs.bucket_cap",
    "similarity.knn_join.bucket_cap",
    "similarity.knn_join.max_salts",
    "mixing.stratified_exact_k.salt_partitions",
    "mixing.stratified_exact_k.candidate_factor",
    "sketches.kmv_distinct.salt_partitions",
    # the centroid-transport switch, driven below k=16 by the path tests
    "similarity.ivf_assign.broadcast_threshold",
    "similarity.kmeans_fit.broadcast_threshold",
    # LSH / verify settings of hand-computed dedup and decontam cases
    "mixing.benchmark_decontaminate.k",
    "curate.run_curation.jaccard_threshold",
    "curate.run_curation.max_df",
    "curate.run_curation.min_overlap",
    "dedup_stream.start_incremental_dedup_stream.num_hashes",
    "dedup_stream.start_incremental_dedup_stream.bands",
    "dedup_stream.start_incremental_dedup_stream.k",
    "dedup_stream.start_incremental_dedup_stream.jaccard_threshold",
    # fixed-point PageRank arithmetic of the hand-computed rank cases
    "linkgraph.pagerank.damping_num",
    "linkgraph.pagerank.damping_den",
    "linkgraph.pagerank.scale",
    # deployment settings (the PSL snapshot is refreshed by swapping the
    # file)
    "psl.load_rules.path",
    "pipeline.build_session.driver_memory",
    "extract_stream.start_extraction_stream.lineage_path",
    "extract_stream.start_extraction_stream.trigger_once",
    "extract_stream.start_extraction_stream.max_files_per_trigger",
    "dedup_stream.start_incremental_dedup_stream.trigger_once",
    "dedup_stream.start_incremental_dedup_stream.max_files_per_trigger",
}


def _surface_functions() -> dict:
    """{name: (qualified "module.function", FunctionDef)} for every public
    top-level function of the surface modules."""
    found = {}
    for d in SURFACE:
        for path in sorted(d.glob("*.py")):
            for node in ast.parse(path.read_text(), str(path)).body:
                if (isinstance(node, ast.FunctionDef)
                        and not node.name.startswith("_")):
                    assert node.name not in found, (
                        f"{node.name} is defined twice; calls match by name")
                    found[node.name] = (f"{path.stem}.{node.name}", node)
    return found


def _product_usage(names) -> tuple:
    """(every name a product caller references, {function name: [(Call,
    keys it passes through ``**NAME``), ...]}) over every product
    caller."""
    refs, calls = set(), {}
    for path in PRODUCT_CALLERS:
        tree = ast.parse(path.read_text(), str(path))
        dicts = {t.id: [k.value for k in node.value.keys
                        if isinstance(k, ast.Constant)]
                 for node in tree.body if isinstance(node, ast.Assign)
                 and isinstance(node.value, ast.Dict)
                 for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                refs.update(alias.name for alias in node.names)
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            if name in names:
                splat = [k for kw in node.keywords if kw.arg is None
                         and isinstance(kw.value, ast.Name)
                         for k in dicts.get(kw.value.id, [])]
                calls.setdefault(name, []).append((node, splat))
    return refs, calls


def _defaulted_params(fn: ast.FunctionDef) -> list:
    """[(param, positional index or None)] of the parameters that carry a
    default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(p.arg, pos.index(p)) for p in pos[len(pos) - len(a.defaults):]]
    return out + [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                  if d is not None]


def _is_set(param: str, index, calls) -> bool:
    for call, splat in calls:
        if param in splat or any(kw.arg == param for kw in call.keywords):
            return True
        if index is not None and len(call.args) > index and not any(
                isinstance(a, ast.Starred) for a in call.args[:index + 1]):
            return True
    return False


def test_every_public_operator_is_reached_from_a_product_caller():
    funcs = _surface_functions()
    refs, _ = _product_usage(funcs)
    unreached = sorted(qual for name, (qual, _) in funcs.items()
                       if name not in refs and name not in ROOT_FUNCTIONS)
    assert not unreached, (
        "public functions in operators/, plans/, streaming/, functions/ "
        "and sources/ that no product caller (jobs.py, __spark_entry__.py, "
        f"bench.py, perfbench/, the package itself) references: "
        f"{unreached}")


def test_every_keyword_parameter_is_set_by_a_product_caller():
    funcs = _surface_functions()
    _, calls = _product_usage(funcs)
    params, unset = set(), []
    for name, (qual, fn) in funcs.items():
        for param, index in _defaulted_params(fn):
            key = f"{qual}.{param}"
            params.add(key)
            if (key not in KNOB_ALLOWLIST
                    and not _is_set(param, index, calls.get(name, []))):
                unset.append(key)
    assert not unset, (
        f"{len(unset)} of {len(params)} defaulted keyword parameters are "
        "set by no product call and are not on KNOB_ALLOWLIST (fix the "
        f"value and delete the parameter): {sorted(unset)}")
    stale = sorted(KNOB_ALLOWLIST - params)
    assert not stale, f"allowlisted parameters that no longer exist: {stale}"


# ---------------------------------------------------------------------------
# One Python-stage body: the product code (the package,
# ``__spark_entry__.py``, ``bench.py``) writes every Python stage through
# ``extract.map_partitions`` (a row function through its row form
# ``extract.map_rows``, or a partition function such as the keyed sink's
# writer), whose body is the one ``.mapInArrow(`` call; no
# ``.mapInPandas(`` call and no pandas import anywhere in it.
# ---------------------------------------------------------------------------

PRODUCT_CODE = sorted(list((REPO / PKG).rglob("*.py"))
                      + [REPO / "__spark_entry__.py", REPO / "bench.py"])
STAGE_BODIES = {f"{PKG}/operators/extract.py": "map_partitions"}


def _stage_sites(tree: ast.AST, rel: str) -> tuple:
    """([(method, scope, site) of each ``.mapInArrow(`` / ``.mapInPandas(``
    call], [site of each pandas import]); a site is ``path:line in
    outer.inner`` (``<module>`` at top level)."""
    calls, imports = [], []

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scope + [child.name]
            where = f"{rel}:{getattr(child, 'lineno', 0)} in " + (
                ".".join(inner) or "<module>")
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("mapInArrow", "mapInPandas")):
                calls.append((child.func.attr, inner, where))
            elif isinstance(child, ast.Import) and any(
                    a.name.split(".")[0] == "pandas" for a in child.names):
                imports.append(where)
            elif (isinstance(child, ast.ImportFrom) and not child.level
                    and (child.module or "").split(".")[0] == "pandas"):
                imports.append(where)
            walk(child, inner)

    walk(tree, [])
    return calls, imports


def test_every_python_stage_goes_through_map_partitions():
    arrow, stray_arrow, pandas_calls, pandas_imports = [], [], [], []
    for path in PRODUCT_CODE:
        rel = path.relative_to(REPO).as_posix()
        calls, imports = _stage_sites(ast.parse(path.read_text(), str(path)),
                                      rel)
        pandas_imports += imports
        for method, scope, where in calls:
            if method == "mapInPandas":
                pandas_calls.append(where)
            elif scope == [STAGE_BODIES.get(rel)]:
                arrow.append(where)
            else:
                stray_arrow.append(where)
    assert not (stray_arrow or pandas_calls or pandas_imports), (
        f"{len(stray_arrow)} mapInArrow calls outside "
        f"extract.map_partitions: {stray_arrow}; {len(pandas_calls)} "
        f"mapInPandas calls: {pandas_calls}; {len(pandas_imports)} pandas "
        f"imports: {pandas_imports} (write the stage as a row_fn through "
        "extract.map_rows or a batch function through "
        "extract.map_partitions)")
    assert len(arrow) == 1, arrow


# ---------------------------------------------------------------------------
# One tokenizer: the word-split pattern is written once, in
# ``dedup.word_array``; every other word split in the package and the
# query surface calls it.
# ---------------------------------------------------------------------------


def test_one_tokenizer_literal():
    sites = []

    def walk(node, scope, rel):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scope + [child.name]
            if isinstance(child, ast.Call):
                name = (getattr(child.func, "id", None)
                        or getattr(child.func, "attr", None))
                if name == "split" and any(
                        isinstance(a, ast.Constant) and a.value == r"\s+"
                        for a in child.args):
                    sites.append(f"{rel} in {'.'.join(inner) or '<module>'}")
            walk(child, inner, rel)

    for path in sorted(list((REPO / PKG).rglob("*.py"))
                       + [REPO / "__spark_entry__.py"]):
        walk(ast.parse(path.read_text(), str(path)), [],
             path.relative_to(REPO).as_posix())
    assert sites == [f"{PKG}/operators/dedup.py in word_array"], (
        f"{len(sites)} word splits on the tokenizer pattern; call "
        f"dedup.word_array instead: {sites}")
