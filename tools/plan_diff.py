"""Canonical-plan comparison of this checkout against another one, in
one JVM.

Imports the other checkout's package under another module name, then
builds every registry query and every ``tools/plan_guard.py`` pseudo
query from both packages — each under its own package's
``pinning_disabled()``, at sf0.001 — and compares the
``optimizedPlan().canonicalized()`` strings (expression ids
normalized, so two independent builds of one plan compare equal).

Builds are interleaved query by query (other, then this), so both sides
of a query are built at nearly the same point in the JVM's history:
some canonical strings depend on what was built before them in the same
JVM (``agg_count``'s two distinct-count groups swap their ``Expand``
order from one build to the next), which a two-pass comparison would
report as a false diff. When the two strings differ, the other side is
built once more, right after this side's build; if that build matches,
the query is reported as ``SHIFT`` (equal at the same build position)
rather than as a diff.

Usage:
  python tools/plan_diff.py OTHER_CHECKOUT            # names that differ
  python tools/plan_diff.py OTHER_CHECKOUT --diff q1 q2  # + unified diffs
  python tools/plan_diff.py OTHER_CHECKOUT --only q1 q2  # build only these

Exit status 1 when any plan differs or fails to build on one side.
"""

from __future__ import annotations

import argparse
import difflib
import importlib.util
import pathlib
import sys
import types

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.plan_guard import SF_DIR  # noqa: E402

PKG = "retrieval_augmented_generation_rag_data_pipeline_spark"
OTHER = "_plan_diff_other"


def load_other(checkout: pathlib.Path) -> types.SimpleNamespace:
    """The other checkout's registry, pseudo queries and
    ``pinning_disabled``, with its package imported as ``OTHER`` (the
    package uses only relative imports; its plan_guard tool is loaded
    with the package name rewritten)."""
    spec = importlib.util.spec_from_file_location(
        OTHER,
        checkout / PKG / "__init__.py",
        submodule_search_locations=[str(checkout / PKG)],
    )
    pkg = importlib.util.module_from_spec(spec)
    sys.modules[OTHER] = pkg
    spec.loader.exec_module(pkg)
    guard = types.ModuleType(f"{OTHER}_plan_guard")
    guard.__file__ = str(checkout / "tools" / "plan_guard.py")
    src = pathlib.Path(guard.__file__).read_text().replace(PKG, OTHER)
    path = list(sys.path)
    exec(compile(src, guard.__file__, "exec"), guard.__dict__)
    sys.path[:] = path  # its sys.path insert must not shadow this checkout
    queries = importlib.import_module(f"{OTHER}.plans.queries")
    pinning = importlib.import_module(f"{OTHER}.operators.pinning")
    return types.SimpleNamespace(
        registry=queries.REGISTRY,
        pseudo=guard.pseudo_queries(),
        pinning_disabled=pinning.pinning_disabled,
    )


def load_this() -> types.SimpleNamespace:
    from retrieval_augmented_generation_rag_data_pipeline_spark.operators.pinning import (
        pinning_disabled,
    )
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import (
        REGISTRY,
    )
    from tools.plan_guard import pseudo_queries

    return types.SimpleNamespace(
        registry=REGISTRY, pseudo=pseudo_queries(), pinning_disabled=pinning_disabled
    )


def canonical(side: types.SimpleNamespace, spark, name: str, sf_dir: str) -> str | None:
    """The canonical optimized plan of ``name`` built from ``side``;
    None when ``side`` has no such query, an ``ERROR`` line when the
    build fails."""
    fn = side.pseudo.get(name) or (side.registry.get(name) or (None,))[0]
    if fn is None:
        return None
    try:
        with side.pinning_disabled():
            df = fn(spark, sf_dir)
        return df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    except Exception as e:  # noqa: BLE001 — report, keep comparing
        return f"ERROR {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("other", type=pathlib.Path, help="the other checkout's root")
    ap.add_argument("--diff", nargs="*", default=[], help="print a unified diff for these names")
    ap.add_argument("--only", nargs="*", default=None, help="build only these names")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()

    from retrieval_augmented_generation_rag_data_pipeline_spark.session import get_spark

    spark = get_spark("plan_diff")
    other, this = load_other(args.other.resolve()), load_this()
    names = args.only or list(
        dict.fromkeys(
            [*other.registry, *sorted(other.pseudo), *this.registry, *sorted(this.pseudo)]
        )
    )
    differ = []
    for name in names:
        a = canonical(other, spark, name, args.sf_dir)
        b = canonical(this, spark, name, args.sf_dir)
        if a != b and b is not None and canonical(other, spark, name, args.sf_dir) == b:
            print(f"SHIFT {name}", flush=True)
        elif a != b:
            differ.append(name)
            print(f"DIFF {name}" + ("" if a and b else " (missing on one side)"), flush=True)
            if name in args.diff:
                sys.stdout.writelines(
                    difflib.unified_diff(
                        (a or "").splitlines(True),
                        (b or "").splitlines(True),
                        f"other/{name}",
                        f"this/{name}",
                    )
                )
    print(f"{len(names) - len(differ)} of {len(names)} canonical plans identical")
    return 1 if differ else 0


if __name__ == "__main__":
    raise SystemExit(main())
