"""Driver-contract smoke: the SUBSET sample of queries() runs and matches
its DuckDB oracle at sf0.001, through the compare of
tools/verify_contract.py (row count + sorted columns + canonical value
multiset). That tool's sweep runs every registered query; this keeps a
sample of the gate inside pytest."""

from __future__ import annotations

import duckdb
import pytest

from tools.verify_contract import TABLES, frame_sig

# cheap-but-representative subset for pytest (full set in tools/verify_contract.py)
SUBSET = [
    "extract_main_text",
    "extract_block_stats",
    "q1_pricing_summary",
    "match_customer",
    "filter_customers",
    "compare_acctbal",
    "traverse_placed",
    "join_placed",
    "group_by_priority",
    "top_k_orders",
    "divergence_parts",
    "session_stats",
    "dedup_exact",
    "token_counts",
    "lang_id",
    "multimodal_metadata",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, sf_dir, oracle_con, name):
    from finetoo_sp_spark import contract

    sdf = contract.queries()[name](spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = oracle_con.execute(contract.oracle_sql()[name])
    ocols, orows = [d[0] for d in res.description], res.fetchall()
    sn, sv = frame_sig(scols, srows)
    on, ov = frame_sig(ocols, orows)
    assert len(srows) == len(orows)
    assert sn == on
    assert sv == ov


def test_all_queries_have_impl_and_rows_only_flagged():
    from finetoo_sp_spark import contract

    qs, oracles = contract.queries(), contract.oracle_sql()
    assert set(oracles) <= set(qs)
    # round 2: every registered query carries a full DuckDB value oracle
    # (the formerly rows-only ops gained portable-hash / serialized forms)
    assert set(qs) == set(oracles)
    assert "__BLOCK_DIVERGENCE_ORACLE__" not in oracles.values()


def test_entry_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    assert df.count() > 0
    assert "url" in df.columns and "text" in df.columns


def test_every_oracle_parses_in_duckdb():
    """EXPLAIN-only parse of every oracle twin against the sf0.001
    views — catches SQL drift in seconds without the full value sweep."""
    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    bad = []
    for name, sql in e.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            bad.append((name, str(ex).splitlines()[0]))
    assert not bad, bad


def test_contract_modules_use_every_core_import():
    """Each contract module imports from _core only the names it uses
    (the project configures no linter, so this is the unused-import check).
    __init__ re-exports two names that tests import from the package."""
    import ast
    from pathlib import Path

    import finetoo_sp_spark.contract as pkg

    reexported = {"__init__.py": {"tpch_graph", "_template_heavy_corpus"}}
    unused = {}
    for path in sorted(Path(pkg.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        imported = {
            a.asname or a.name
            for n in tree.body
            if isinstance(n, ast.ImportFrom) and n.module == "finetoo_sp_spark.contract._core"
            for a in n.names
        }
        extra = imported - used - reexported.get(path.name, set())
        if extra:
            unused[path.name] = sorted(extra)
    assert not unused, unused


def test_every_registered_query_is_named_in_coverage():
    """COVERAGE.md names every registered query (a new query must land
    in its family's row)."""
    import re
    from pathlib import Path

    from finetoo_sp_spark import contract
    from finetoo_sp_spark.contract._core import _REGISTRY

    contract.queries()
    cov = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    missing = [
        name
        for name, _fn, _oracle in _REGISTRY
        if not re.search(rf"(?<![\w]){re.escape(name)}(?![\w])", cov)
    ]
    assert not missing, missing


def test_registered_audit_checks_compile_and_skip_universal():
    """Every query's own plan check is a regex that compiles once a
    leading "!" is stripped, and none repeats a check that
    tools/audit_plans.py already applies to every query."""
    import re

    from finetoo_sp_spark import contract
    from finetoo_sp_spark.contract._core import _AUDIT
    from tools.audit_plans import UNIVERSAL

    assert set(_AUDIT) == set(contract.queries())
    universal = {pat for _desc, pat in UNIVERSAL}
    bad, repeated = [], []
    for name, checks in _AUDIT.items():
        for desc, pat in checks:
            try:
                re.compile(pat.removeprefix("!"))
            except re.error as e:
                bad.append((name, desc, str(e)))
            if pat in universal:
                repeated.append((name, desc))
    assert not bad, bad
    assert not repeated, repeated


# Defaulted parameters that no call varies but that stay settable: a
# deployment's own resource or secret, or a value that must match one
# that calls do vary.
_KEPT_DEFAULTS = {
    "read_table(catalog)": "the Spark catalog name is the deployment's",
    "write_table(catalog)": "the Spark catalog name is the deployment's",
    "encrypt_pdf(owner_pw)": "a password is a credential, never a constant",
    "hll_estimate_py(p)": "must equal the hll_registers(p) the registers were built with",
}


def test_no_defaulted_parameter_that_no_call_varies():
    """Every defaulted parameter of a public top-level function under
    finetoo_sp_spark/ must be passed a value other than its default by
    some call in the repository (by keyword, by position, or through a
    ``*``/``**`` splat); otherwise it is a constant and belongs in the
    body. "Other" compares values where both sides fold to a constant
    (module-level constants, own or imported, replaced by their values,
    so ``SCALE`` equals a default of ``1 << 20`` when SCALE is that) and
    source text otherwise, so passing a column name its own default does
    not count. A call through ``functools.partial`` counts as a call,
    and a function used as a value (passed around, stored) counts as
    varying every parameter. _KEPT_DEFAULTS lists the exceptions."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sources = [
        p for p in root.rglob("*.py")
        if not any(s.startswith(".") or s == "__pycache__" for s in p.relative_to(root).parts)
    ]
    trees = {p: ast.parse(p.read_text()) for p in sources}

    # Fold an expression to its value when it is built only from literals,
    # operators and names in ``consts``; _UNFOLDED otherwise.
    _UNFOLDED = object()
    leaf = (ast.Constant, ast.Name, ast.Load, ast.operator, ast.unaryop)
    shape = (ast.Expression, ast.BinOp, ast.UnaryOp, ast.Tuple, ast.List)

    def fold(node, consts):
        for n in ast.walk(node):
            if not isinstance(n, leaf + shape) or (
                isinstance(n, ast.Name) and n.id not in consts
            ):
                return _UNFOLDED
        try:
            return eval(compile(ast.Expression(node), "<default>", "eval"), {"__builtins__": {}}, consts)
        except Exception:
            return _UNFOLDED

    # Module-level constants per file, imported ones included, resolved in
    # file order until nothing new folds.
    modname = {".".join(p.relative_to(root).with_suffix("").parts): p for p in sources}
    consts = {p: {} for p in sources}
    changed = True
    while changed:
        changed = False
        for p, tree in trees.items():
            for st in tree.body:
                if (
                    isinstance(st, ast.Assign)
                    and len(st.targets) == 1
                    and isinstance(st.targets[0], ast.Name)
                    and st.targets[0].id not in consts[p]
                ):
                    v = fold(st.value, consts[p])
                    if v is not _UNFOLDED:
                        consts[p][st.targets[0].id] = v
                        changed = True
                elif isinstance(st, ast.ImportFrom) and st.module in modname:
                    src = consts[modname[st.module]]
                    for al in st.names:
                        local = al.asname or al.name
                        if al.name in src and local not in consts[p]:
                            consts[p][local] = src[al.name]
                            changed = True

    def same(node, node_consts, default):
        """Whether an argument passes the default (a (source, value) pair)."""
        v = fold(node, node_consts)
        if v is not _UNFOLDED and default[1] is not _UNFOLDED:
            return (type(v), v) == (type(default[1]), default[1])
        return ast.unparse(node) == default[0]

    knobs = []  # (module, function, parameter, position or None, (default source, value))
    for p, tree in trees.items():
        if root / "finetoo_sp_spark" not in p.parents:
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, (arg, d) in enumerate(zip(pos[first:], a.defaults), first):
                knobs.append((p.relative_to(root), fn.name, arg.arg, i, (ast.unparse(d), fold(d, consts[p]))))
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    knobs.append((p.relative_to(root), fn.name, arg.arg, None, (ast.unparse(d), fold(d, consts[p]))))

    def name_of(node):
        return node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)

    calls, as_value = {}, set()
    for p, tree in trees.items():
        callees = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                callees.add(id(n.func))
                calls.setdefault(name_of(n.func), []).append((n.args, n.keywords, consts[p]))
                if name_of(n.func) == "partial" and n.args:
                    callees.add(id(n.args[0]))
                    target = name_of(n.args[0])
                    calls.setdefault(target, []).append((n.args[1:], n.keywords, consts[p]))
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in callees:
                as_value.add(name_of(n))

    def varies(args, keywords, call_consts, param, idx, default):
        for k in keywords:
            if k.arg is None or (k.arg == param and not same(k.value, call_consts, default)):
                return True
        if idx is None:
            return False
        if any(isinstance(x, ast.Starred) for x in args[: idx + 1]):
            return True
        return len(args) > idx and not same(args[idx], call_consts, default)

    fixed = [
        f"{mod}::{fn}({param})"
        for mod, fn, param, idx, default in knobs
        if fn not in as_value
        and f"{fn}({param})" not in _KEPT_DEFAULTS
        and not any(varies(*call, param, idx, default) for call in calls.get(fn, []))
    ]
    assert not fixed, fixed
    declared = {f"{fn}({param})" for _mod, fn, param, _idx, _d in knobs}
    assert set(_KEPT_DEFAULTS) <= declared, set(_KEPT_DEFAULTS) - declared
