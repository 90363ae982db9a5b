"""Pins for the streaming layer's counter-state merge and serving surface.

Additive counter state merges in one place, operators/incremental.py:
merge_rollups (union the partial states, group by the keys, SUM the
counters — the MapReduce combiner applied across batches). Merges with a
different algebra (HLL union, set union, max-version, the quantile sketch,
merge_states' decimal sum + HLL) keep their own code. Serving goes straight
to the shared readouts in operators/serving.py, operators/sketch.py and
operators/tokenizer.py; a view that only forwards its argument to one of
them is a second name for the same decision. These tests read the source,
so they need no Spark session.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mapreduce_paper_implementation_spark",
)
MERGE_MODULES = ("streaming/rollup.py", "streaming/mixture_view.py", "streaming/transitions.py")
DELETED = {
    "kl_from_bins",
    "adaptive_threshold_view",
    "rolling_p95_view",
    "sliding_distinct_view",
    "hll_vocab_view",
    "benford_view",
    "bpe_view",
    "quantile_view",
    "maintain_seen_keys",
    "merge_hist_states",
}


def _tree(rel: str) -> ast.Module:
    with open(os.path.join(PKG, rel)) as fh:
        return ast.parse(fh.read(), rel)


def _scopes(tree: ast.AST):
    """Every function and lambda, each with the nodes of its own body only
    (nested functions and lambdas are their own scopes)."""
    fns = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
    for fn in ast.walk(tree):
        if not isinstance(fn, fns):
            continue
        own, todo = [], list(ast.iter_child_nodes(fn))
        while todo:
            n = todo.pop()
            own.append(n)
            if not isinstance(n, fns):
                todo.extend(ast.iter_child_nodes(n))
        yield getattr(fn, "name", "<lambda>"), fn.lineno, own


def _calls(nodes, attr: str) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr
        for n in nodes
    )


def test_additive_merges_go_through_merge_rollups():
    """No scope in the streaming merge modules unions state frames and
    re-sums them itself: that is merge_rollups' job."""
    found = []
    for rel in MERGE_MODULES:
        for name, line, nodes in _scopes(_tree(rel)):
            if _calls(nodes, "unionByName") and _calls(nodes, "sum"):
                found.append(f"{rel}:{line} {name}")
    assert not found, f"hand-written union + SUM merge (call merge_rollups): {found}"


def test_every_counter_maintainer_calls_merge_rollups():
    """Eleven additive merges: nine maintainers' merge_fn, the counts half
    of the transition monoid and histogram_maintainer's merge."""
    users = []
    for rel in MERGE_MODULES:
        for name, _, nodes in _scopes(_tree(rel)):
            for n in nodes:
                if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "merge_rollups":
                    users.append(name)
    assert len(users) == 11, users


def test_deleted_wrappers_stay_deleted():
    defined = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), PKG)
                for n in ast.walk(_tree(rel)):
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name in DELETED:
                        defined.append(f"{rel}:{n.lineno} {n.name}")
    assert not defined, defined


# perfbench's neardup-release workload imports this name, so it stays
KEPT_PASS_THROUGH = {"cluster_split_view"}


def test_no_pass_through_serving_view():
    """A top-level function of the streaming layer whose whole body is
    `return f(<its own parameters or constants>)` only renames f."""
    found = []
    for f in sorted(os.listdir(os.path.join(PKG, "streaming"))):
        if not f.endswith(".py"):
            continue
        rel = f"streaming/{f}"
        for fn in _tree(rel).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            params = {a.arg for a in fn.args.args + fn.args.kwonlyargs}
            body = [
                s
                for s in fn.body
                if not isinstance(s, (ast.Import, ast.ImportFrom))
                and not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))
            ]
            if len(body) != 1 or not isinstance(body[0], ast.Return):
                continue
            call = body[0].value
            if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Name)):
                continue
            args = list(call.args) + [k.value for k in call.keywords]
            if all(
                (isinstance(a, ast.Name) and a.id in params) or isinstance(a, ast.Constant)
                for a in args
            ):
                if fn.name not in KEPT_PASS_THROUGH:
                    found.append(f"{rel}:{fn.lineno} {fn.name}")
    assert not found, f"pass-through views (call the readout directly): {found}"


def test_one_foreach_batch_wiring():
    """streaming/rollup.py:maintain_rollup wires any object with
    update(df, batch_id) into a stream; no module keeps a copy."""
    wirings = []
    for f in sorted(os.listdir(os.path.join(PKG, "streaming"))):
        if f.endswith(".py"):
            rel = f"streaming/{f}"
            for name, _, nodes in _scopes(_tree(rel)):
                if _calls(nodes, "foreachBatch"):
                    wirings.append(f"{rel} {name}")
    assert wirings == ["streaming/rollup.py maintain_rollup"], wirings
