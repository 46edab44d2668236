"""Driver-contract guards: the grading surface (queries / oracle_sql /
registration order) must stay structurally sound — a typo'd priority name or
a query that silently loses its oracle should fail here, not in the driver's
round-end grading."""

import ast
import os
from collections import defaultdict


def test_every_query_has_an_oracle():
    import __spark_entry__ as m

    qs, oracles = m.queries(), m.oracle_sql()
    missing = [n for n in qs if n not in oracles]
    assert not missing, f"rows-only queries (weaker grading): {missing}"
    stray = [n for n in oracles if n not in qs]
    assert not stray, f"oracles without queries: {stray}"


def test_grading_priority_is_unique_and_registered():
    from us_equity_datalake_spark.plans import REGISTRY, _GRADING_PRIORITY

    assert len(_GRADING_PRIORITY) == len(set(_GRADING_PRIORITY)), "duplicate priority entries"
    missing = [n for n in _GRADING_PRIORITY if n not in REGISTRY]
    assert not missing, f"priority names not registered: {missing}"


def test_registration_order_puts_priority_first():
    import __spark_entry__ as m
    from us_equity_datalake_spark.plans import _GRADING_PRIORITY

    names = list(m.queries())
    assert names[: len(_GRADING_PRIORITY)] == _GRADING_PRIORITY
    # the driver grades the FIRST 50 — they must all be priority picks
    assert len(_GRADING_PRIORITY) >= 50 or len(names) <= 50


def test_oracle_sql_is_nonempty_text():
    import __spark_entry__ as m

    for name, sql in m.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_scratch_dir_removed_at_process_exit(tmp_path):
    """A query's scratch dir outlives the query (its frame still reads the
    files) but not the process: a process that made one and exits leaves
    nothing behind.  No Spark session is started."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from us_equity_datalake_spark.plans.base import scratch_dir\n"
        "p = scratch_dir('exit_probe', '/data/sf0.01')\n"
        "os.makedirs(os.path.join(p, 'sub'))\n"
        "open(os.path.join(p, 'sub', 'f.txt'), 'w').write('x')\n"
        "print(p)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, env=env,
                         capture_output=True, text=True, check=True)
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(path).startswith("quantlake_exit_probe_sf0_01_")
    assert os.path.dirname(path) == str(tmp_path)
    assert not os.path.exists(path)
    assert os.listdir(tmp_path) == []


# The only definitions no entry point reaches on purpose: each needs a network,
# WRDS rows or model weights, so only an operator with those calls it.  Their
# private helpers are reached through them.
EDGES = {
    "sources/adapters.py::read_crsp_ticks": "WRDS: CRSP dsf range read over JDBC",
    "sources/adapters.py::crsp_universe_query": "WRDS: CRSP historical universe query",
    "sources/adapters.py::fetch_openfigi_mapping": "network: batched OpenFIGI lookup",
    "sources/adapters.py::figi_map_df": "network: lands the OpenFIGI mapping",
    "sources/adapters.py::sec_company_tickers_rows": "network: EDGAR company_tickers.json",
    "sources/adapters.py::parse_alpaca_bars_page": "network: Alpaca bars page",
    "sources/adapters.py::universe_rows_to_df": "WRDS: lands CRSP universe rows",
    "sources/ingest.py::fanout_fetch": "network: per-key fetch on the executors",
    "sources/ingest.py::fetch_paginated": "network: next-page-token API drain",
    "sources/ingest.py::filter_unwritten": "network: skips keys landed by an earlier fetch",
    "sources/ingest.py::rows_to_df": "network: lands driver-fetched records",
    "functions/timeops.py::trade_day_range_utc": "network: Alpaca request window of a day",
    "functions/timeops.py::month_range_utc": "network: Alpaca request window of a month",
    "equity/sentiment.py::finbert_model": "weights: the ProsusAI/finbert checkpoint",
    "equity/security_master.py::build_security_master": "WRDS: master from the CRSP name history",
    "equity/daily_job.py::load_security_master": "WRDS: its stale-master rebuild path",
}

_PKG = "us_equity_datalake_spark"
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _unreached(repo: str, edges: "dict[str, str]"):
    """Trace the package's top-level definitions (``"<module path>::<name>"``)
    from its entry points and return ``(unreached, undefined edges, edges
    reached anyway)``.

    Roots: every name, attribute, import alias or string literal in a ``.py``
    file outside the package and ``tests/`` (tools, ``bench.py``,
    ``__spark_entry__.py``, ``perfbench/``, which wraps snapshot functions by
    name); every module-level statement of the package other than a
    definition; every ``@register`` definition; every ``edges`` entry.  Inside
    the package only a name, an attribute or an import alias in a reached body
    reaches a definition: docstrings, comments, ``__all__`` and other strings
    do not."""
    pkg_dir = os.path.join(repo, _PKG)
    mods = {}  # dotted module -> (path relative to the package, tree, is package)
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, f), pkg_dir).replace(os.sep, "/")
                dotted = ".".join([_PKG, *rel[:-3].split("/")]).removesuffix(".__init__")
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    mods[dotted] = (rel, ast.parse(fh.read()), f == "__init__.py")

    defs, by_name, binds = {}, defaultdict(list), defaultdict(dict)
    for dotted, (rel, tree, is_pkg) in mods.items():
        for node in tree.body:
            if isinstance(node, _DEFS):
                defs[f"{rel}::{node.name}"] = (dotted, node)
                by_name[node.name].append(f"{rel}::{node.name}")
        # what each import binds: a module (name None) or a module's name
        pkg = dotted if is_pkg else dotted.rpartition(".")[0]
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                target = node.module
                if node.level:
                    base = pkg.rsplit(".", node.level - 1)[0] if node.level > 1 else pkg
                    target = f"{base}.{node.module}" if node.module else base
                for a in node.names:
                    sub = f"{target}.{a.name}"
                    binds[dotted][a.asname or a.name] = (sub, None) if sub in mods else (target, a.name)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname and a.name in mods:
                        binds[dotted][a.asname] = (a.name, None)

    def resolve(dotted, name, hops=0):
        """The definition ``name`` means in module ``dotted``, through re-exports."""
        if dotted not in mods or hops > 5:
            return []
        key = f"{mods[dotted][0]}::{name}"
        if key in defs:
            return [key]
        target, orig = binds[dotted].get(name, (None, None))
        return resolve(target, orig, hops + 1) if orig else []

    def module_of(dotted, expr):
        if isinstance(expr, ast.Name):
            bound = binds[dotted].get(expr.id)
            return bound[0] if bound and bound[1] is None else None
        if isinstance(expr, ast.Attribute):
            base = module_of(dotted, expr.value)
            return f"{base}.{expr.attr}" if f"{base}.{expr.attr}" in mods else None
        return None

    def refs(dotted, nodes):
        out = []
        for x in (x for n in nodes for x in ast.walk(n)):
            if isinstance(x, ast.Name):
                out += resolve(dotted, x.id)
            elif isinstance(x, ast.Attribute):
                # an attribute of an unknown object may be any same-named definition
                base = module_of(dotted, x.value)
                out += resolve(base, x.attr) if base else by_name.get(x.attr, [])
            elif isinstance(x, (ast.Import, ast.ImportFrom)):
                for a in x.names:
                    target, orig = binds[dotted].get(a.asname or a.name, (None, None))
                    out += resolve(target, orig) if orig else []
        return out

    roots = []
    for root, dirs, files in os.walk(repo):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))
                   and os.path.join(root, d) not in (pkg_dir, os.path.join(repo, "tests"))]
        for f in (f for f in files if f.endswith(".py")):
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                for x in ast.walk(ast.parse(fh.read())):
                    if isinstance(x, ast.Name):
                        roots += by_name.get(x.id, [])
                    elif isinstance(x, ast.Attribute):
                        roots += by_name.get(x.attr, [])
                    elif isinstance(x, ast.Constant) and isinstance(x.value, str):
                        roots += by_name.get(x.value, [])
                    elif isinstance(x, (ast.Import, ast.ImportFrom)):
                        for a in x.names:
                            roots += by_name.get(a.name.rpartition(".")[2], [])
    for dotted, (rel, tree, _) in mods.items():
        for node in tree.body:
            if not isinstance(node, _DEFS):
                roots += refs(dotted, [node])
                continue
            # decorators, defaults and bases run at import time
            head = list(node.decorator_list)
            if isinstance(node, ast.ClassDef):
                head += node.bases + node.keywords
            else:
                head += node.args.defaults + [d for d in node.args.kw_defaults if d]
            roots += refs(dotted, head)
            for d in node.decorator_list:
                d = d.func if isinstance(d, ast.Call) else d
                if getattr(d, "id", getattr(d, "attr", None)) == "register":
                    roots.append(f"{rel}::{node.name}")

    reached, referenced, todo = set(), set(roots), roots + list(edges)
    while todo:
        key = todo.pop()
        if key in reached or key not in defs:
            continue
        reached.add(key)
        dotted, node = defs[key]
        found = [k for k in refs(dotted, node.body) if k != key]
        referenced.update(found)
        todo += found
    return (sorted(set(defs) - reached), sorted(set(edges) - set(defs)),
            sorted(set(edges) & referenced))


def test_every_definition_is_reached_from_an_entry_point():
    """Every top-level function or class in the package is reached from an
    entry point (a registered query, the CLI, the daily job, a tool,
    ``bench.py`` or ``perfbench``), or is listed in ``EDGES`` with its
    reason; code that only its tests reach is dead weight.  An ``EDGES``
    entry must exist and must not be reached anyway, so the list cannot rot.
    No Spark session is started."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    unreached, undefined, reached_anyway = _unreached(repo, EDGES)
    assert not unreached, f"reached by no entry point: {unreached}"
    assert not undefined, f"EDGES entries that name no definition: {undefined}"
    assert not reached_anyway, f"EDGES entries an entry point reaches: {reached_anyway}"
