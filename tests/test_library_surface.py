"""The library holds only code that a caller outside tests/ reaches.

A static scan of ``etl_processes_spark/``: start from every name that the
driver contract, ``bench.py``, ``tools/``, ``examples/`` and the non-test
files of ``perfbench/`` reference, and follow the names each reached
top-level function, class or constant references, through imports and
module attributes. A top-level definition that no root reaches is either a
named exception below or does not belong in the library: give it a route
or delete it; fixture producers live under ``tests/``.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "etl_processes_spark"

# The only definitions kept without a caller outside tests/, each for a
# stated reason. A module entry keeps every definition in it.
KEEP = {
    "etl_processes_spark.plots":
        "the reference engine's visualize step",
    "etl_processes_spark.io.profile_source":
        "the only reader of the artifact that profile_sink writes",
    "etl_processes_spark.ops.classify.train_logistic":
        "produces the (w, b) that score_with_classifier consumes; L-BFGS "
        "output cannot be replayed across engines, so pytest pins it",
    "etl_processes_spark.ops.textstats.token_count_expr":
        "composed reference form that text_analysis_features is checked against",
    "etl_processes_spark.ops.textstats.lang_id_exprs":
        "composed reference form that text_analysis_features is checked against",
    "etl_processes_spark.ops.textstats._marker_hits":
        "composed reference form that text_analysis_features is checked against",
}


def _root_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for sub in ("tools", "examples", "perfbench"):
        files += sorted(
            p for p in (ROOT / sub).glob("*.py") if not p.name.startswith("test_")
        )
    return files


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _import_bindings(tree: ast.AST) -> dict[str, str]:
    """Local name -> dotted target, for every import anywhere in the file."""
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    bound[a.asname] = a.name
                else:
                    head = a.name.split(".")[0]
                    bound[head] = head
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, "the scan follows absolute imports only"
            for a in node.names:
                bound[a.asname or a.name] = f"{node.module}.{a.name}"
    return bound


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = []
    for t in targets:
        for n in ast.walk(t):
            if isinstance(n, ast.Name) and not n.id.startswith("__"):
                names.append(n.id)
    return names


def _references(node: ast.AST) -> list[list[str]]:
    """Dotted chains (``a``, ``a.b.c``) loaded anywhere under node."""
    chains = []
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            parts = []
            cur = n
            while isinstance(cur, ast.Attribute):
                parts.append(cur.attr)
                cur = cur.value
            if isinstance(cur, ast.Name):
                chains.append([cur.id] + parts[::-1])
        elif isinstance(n, ast.Name):
            chains.append([n.id])
    return chains


class _Library:
    def __init__(self):
        self.defs: dict[str, dict[str, ast.stmt]] = {}
        self.lines: dict[str, int] = {}
        self.imports: dict[str, dict[str, str]] = {}
        self.body_roots: dict[str, list[ast.stmt]] = {}
        for path in sorted((ROOT / PKG).rglob("*.py")):
            mod = _module_name(path)
            tree = ast.parse(path.read_text())
            self.imports[mod] = _import_bindings(tree)
            self.defs[mod] = {}
            self.body_roots[mod] = []
            for stmt in tree.body:
                names = _defined_names(stmt)
                for name in names:
                    self.defs[mod][name] = stmt
                    self.lines[f"{mod}.{name}"] = stmt.end_lineno - stmt.lineno + 1
                if not names:
                    # module-level code runs on import (e.g. table set-up)
                    self.body_roots[mod].append(stmt)

    def resolve(self, target: str, seen=()) -> str | None:
        """A dotted name -> the package module or definition it denotes."""
        if target in self.defs:
            return target
        if "." not in target or target in seen:
            return None
        mod, name = target.rsplit(".", 1)
        mod = self.resolve(mod, seen + (target,))
        if mod is None or mod not in self.defs:
            return None
        if name in self.defs[mod]:
            return f"{mod}.{name}"
        if f"{mod}.{name}" in self.defs:
            return f"{mod}.{name}"
        if name in self.imports[mod]:
            return self.resolve(self.imports[mod][name], seen + (target,))
        return None

    def chain_targets(self, chain, module, bindings) -> list[str]:
        head, rest = chain[0], chain[1:]
        if head in bindings:
            target = bindings[head]
        elif module is not None and head in self.defs[module]:
            target = f"{module}.{head}"
        else:
            return []
        hits = []
        for attr in [None] + rest:
            if attr is not None:
                target = f"{target}.{attr}"
            hit = self.resolve(target)
            if hit is None:
                break
            hits.append(hit)
        return hits

    def reached(self) -> set[str]:
        todo = []
        for path in _root_files():
            tree = ast.parse(path.read_text())
            bindings = _import_bindings(tree)
            for chain in _references(tree):
                todo += self.chain_targets(chain, None, bindings)
        for mod, stmts in self.body_roots.items():
            for stmt in stmts:
                for chain in _references(stmt):
                    todo += self.chain_targets(chain, mod, self.imports[mod])
        seen = set()
        while todo:
            name = todo.pop()
            if name in seen:
                continue
            seen.add(name)
            if name in self.defs:  # a module, not a definition
                continue
            mod, attr = name.rsplit(".", 1)
            for chain in _references(self.defs[mod][attr]):
                todo += self.chain_targets(chain, mod, self.imports[mod])
        return seen

    def unreached(self) -> dict[str, int]:
        reached = self.reached()
        return {
            f"{mod}.{name}": self.lines[f"{mod}.{name}"]
            for mod, defs in self.defs.items()
            for name in defs
            if f"{mod}.{name}" not in reached
        }


def _kept(name: str) -> bool:
    return name in KEEP or name.rsplit(".", 1)[0] in KEEP


def test_library_holds_only_reached_code():
    unreached = _Library().unreached()
    stray = {n: lines for n, lines in unreached.items() if not _kept(n)}
    assert not stray, (
        f"{sum(stray.values())} lines of library definitions that no caller "
        f"outside tests/ reaches (give each a route, delete it, or move a "
        f"fixture producer into tests/): {sorted(stray)}"
    )


def test_keep_list_names_only_unreached_definitions():
    lib = _Library()
    unreached = lib.unreached()
    for entry in KEEP:
        assert entry in lib.defs or lib.resolve(entry) == entry, f"{entry} is gone"
        members = (
            [f"{entry}.{n}" for n in lib.defs[entry]] if entry in lib.defs else [entry]
        )
        assert any(m in unreached for m in members), (
            f"{entry} now has a caller outside tests/; drop it from KEEP"
        )
