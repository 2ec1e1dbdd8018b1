"""One form per expression: no package module defines a function ``X``
beside its ``X_sql`` builder, and ``let_sql`` is the only binding form.
No dead code: every public package function or class is reached from a
registry query, a pipeline entry point, a tool, the benchmarks or
``__spark_entry__.py`` — or is listed in ``KEPT`` with the reference
stage it reproduces. Pure introspection, no Spark session."""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
from pathlib import Path

import retrieval_augmented_generation_rag_data_pipeline_spark as pkg


def _defined(mod) -> set[str]:
    """Functions and classes a module defines itself (not imports)."""
    return {
        n
        for n, v in vars(mod).items()
        if (inspect.isfunction(v) or inspect.isclass(v))
        and v.__module__ == mod.__name__
    }


def test_no_function_beside_its_sql_builder():
    twins = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        names = _defined(mod)
        twins += [f"{info.name}.{n}" for n in names if f"{n}_sql" in names]
    assert sorted(twins) == []


def test_let_sql_is_the_only_binding_form():
    from retrieval_augmented_generation_rag_data_pipeline_spark.functions import binding

    assert _defined(binding) == {"let_sql"}


# --- reachability: every public package function is used outside tests ---

_PKG_DIR = Path(pkg.__file__).parent
_REPO = _PKG_DIR.parent

# Kept although only tests reach them: each is the one reproduction of a
# reference stage (PAPER.md §0) — the value names the stage. The registry
# cannot run them: they read media, models or files, not the test tables.
KEPT = {
    "sources.readers.scan_catalog": "S3 list/filter (object catalog scan)",
    "ml.udfs.make_asr_udf": "Whisper ASR (chunked)",
    "ml.udfs.asr_available": "Whisper ASR (chunked)",
    "ml.udfs.fake_transcribe": "Whisper ASR (chunked)",
    "ml.udfs.make_diarize_udf": "pyannote diarization",
    "ml.udfs.diarizer_available": "pyannote diarization",
    "ml.udfs.fake_diarize": "pyannote diarization",
    "ml.udfs.fake_decode": "video-to-audio decode",
    "sources.sinks.write_json": "save: JSON transcript",
    "sources.sinks.write_dialogue_text": "save: formatted dialogue .txt",
    "sources.readers.scan_text_documents": "embed input: saved .txt read back",
    "streaming.stream.read_document_stream": "poll loop (micro-batch source)",
    "streaming.stream.run_stream": "poll loop (micro-batch runner)",
}


def _mod_name(path: Path) -> str:
    rel = path.relative_to(_REPO).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _aliases(tree: ast.AST, mod: str, is_pkg: bool) -> dict[str, str]:
    """Local name -> dotted target, from every import in the file."""
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name
                else:
                    out[a.name.split(".")[0]] = a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = mod.split(".")
                keep = len(parts) - node.level + (1 if is_pkg else 0)
                base = ".".join(parts[:keep] + ([base] if base else []))
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    return out


def _dotted(node: ast.AST) -> list[str] | None:
    attrs = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return [node.id, *reversed(attrs)]


class _Index:
    """Top-level definitions and import aliases of every package module."""

    def __init__(self):
        self.defs: dict[str, dict[str, ast.AST]] = {}
        self.aliases: dict[str, dict[str, str]] = {}
        self.module_level: dict[str, list[ast.AST]] = {}
        for path in sorted(_PKG_DIR.rglob("*.py")):
            mod = _mod_name(path)
            tree = ast.parse(path.read_text())
            self.aliases[mod] = _aliases(tree, mod, path.name == "__init__.py")
            self.defs[mod] = {}
            self.module_level[mod] = []
            for stmt in tree.body:
                if isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    self.defs[mod][stmt.name] = stmt
                else:
                    self.module_level[mod].append(stmt)

    def target(self, dotted: str, depth: int = 0) -> tuple[str, str] | None:
        """The package definition a dotted name denotes, if any."""
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            mod = ".".join(parts[:i])
            if mod not in self.defs:
                continue
            name = parts[i]
            if name in self.defs[mod]:
                return mod, name
            fwd = self.aliases[mod].get(name)
            if fwd and depth < 5:  # a re-export: follow it
                return self.target(".".join([fwd, *parts[i + 1 :]]), depth + 1)
            return None
        return None

    def refs(self, tree: ast.AST, mod: str | None, aliases: dict[str, str]):
        """Package definitions named in ``tree`` (code only: strings and
        docstrings are constants and never resolve)."""
        own = self.defs.get(mod, {}) if mod else {}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Name, ast.Attribute)):
                continue
            chain = _dotted(node)
            if not chain:
                continue
            head, rest = chain[0], chain[1:]
            if head in aliases:
                base = aliases[head]
            elif head in own:
                base = f"{mod}.{head}"
            else:
                continue
            hit = self.target(".".join([base, *rest]))
            if hit:
                yield hit


def _roots(index: _Index):
    from retrieval_augmented_generation_rag_data_pipeline_spark.plans.queries import (
        REGISTRY,
    )

    for fn, _sql in REGISTRY.values():
        yield fn.__module__, fn.__name__
    for name in ("run_once", "search", "prepare_corpus"):
        yield f"{pkg.__name__}.plans.pipeline", name
    # Module-level code runs at import.
    for mod, stmts in index.module_level.items():
        for stmt in stmts:
            yield from index.refs(stmt, mod, index.aliases[mod])
    files = [_REPO / "bench.py", _REPO / "__spark_entry__.py"]
    files += sorted((_REPO / "tools").glob("*.py"))
    files += [
        p
        for p in sorted((_REPO / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]
    for path in files:
        tree = ast.parse(path.read_text())
        yield from index.refs(tree, None, _aliases(tree, "", False))


def _unreachable() -> list[str]:
    index = _Index()
    seen: set[tuple[str, str]] = set()
    todo = list(_roots(index))
    while todo:
        mod, name = todo.pop()
        if (mod, name) in seen:
            continue
        seen.add((mod, name))
        todo += index.refs(index.defs[mod][name], mod, index.aliases[mod])
    prefix = pkg.__name__ + "."
    return sorted(
        f"{mod[len(prefix):]}.{name}"
        for mod, defs in index.defs.items()
        for name in defs
        if not name.startswith("_") and (mod, name) not in seen
    )


def test_every_public_function_is_reachable():
    """A public package function or class that no registry query,
    pipeline entry point, tool, bench or ``__spark_entry__.py`` reaches
    is dead weight that only its own tests keep alive: delete it with
    them, or add it to ``KEPT`` with the reference stage it reproduces."""
    orphans = [n for n in _unreachable() if n not in KEPT]
    assert orphans == []


def test_kept_functions_exist_and_are_otherwise_unreached():
    assert sorted(set(KEPT) & set(_unreachable())) == sorted(KEPT)


# --- no shadowed definitions: a second top-level def replaces the first ---


def test_no_module_defines_a_top_level_name_twice():
    """A second top-level ``def``/``class`` of one name silently replaces
    the first: a shadowed test never runs, a shadowed function is dead
    code that reads as live."""
    files = sorted(_PKG_DIR.rglob("*.py"))
    files += sorted((_REPO / "tests").glob("*.py"))
    files += sorted((_REPO / "perfbench").glob("*.py"))
    twice = []
    for path in files:
        seen: set[str] = set()
        for stmt in ast.parse(path.read_text()).body:
            if not isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if stmt.name in seen:
                twice.append(f"{path.relative_to(_REPO)}::{stmt.name}")
            seen.add(stmt.name)
    assert twice == []
