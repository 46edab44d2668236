"""Driver-contract guards: the grading surface (queries / oracle_sql /
registration order) must stay structurally sound — a typo'd priority name or
a query that silently loses its oracle should fail here, not in the driver's
round-end grading."""


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


def test_no_orphan_operators():
    """Every public top-level function or class in ``operators/`` is named
    (as a whole word) in some ``.py`` file outside ``tests/`` besides its own
    definition: an operator that only its tests reach is dead weight.
    ``perfbench/`` counts as a caller.  No Spark session is started."""
    import ast
    import os
    import re
    from collections import Counter

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ops_dir = os.path.join(repo, "us_equity_datalake_spark", "operators")
    words: dict[str, Counter] = {}
    for root, dirs, files in os.walk(repo):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__")) and
                   os.path.join(root, d) != os.path.join(repo, "tests")]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    words[path] = Counter(re.findall(r"\w+", fh.read()))

    orphans = []
    for f in sorted(os.listdir(ops_dir)):
        if not f.endswith(".py"):
            continue
        path = os.path.join(ops_dir, f)
        with open(path, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        for node in ast.parse("\n".join(lines)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            # the definition's own span (decorators, docstring, recursion)
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = re.findall(r"\w+", "\n".join(lines[start - 1:node.end_lineno]))
            uses = sum(c[node.name] for c in words.values()) - own.count(node.name)
            if uses <= 0:
                orphans.append(f"operators/{f}::{node.name}")
    assert not orphans, f"operators reached by no code outside tests/: {orphans}"
