"""Driver-contract smoke: the SUBSET sample of queries() runs and matches
its DuckDB oracle at sf0.001, through the compare of
tools/verify_contract.py (row count + sorted columns + canonical value
multiset). That tool's sweep runs every registered query; this keeps a
sample of the gate inside pytest."""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pytest

from tools.verify_contract import TABLES, frame_sig

ROOT = Path(__file__).resolve().parents[1]


def _source_trees() -> dict[Path, ast.Module]:
    """Every .py file of the repository, parsed, keyed by path (hidden
    directories and __pycache__ skipped)."""
    return {
        p: ast.parse(p.read_text())
        for p in ROOT.rglob("*.py")
        if not any(s.startswith(".") or s == "__pycache__" for s in p.relative_to(ROOT).parts)
    }

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


def test_every_query_has_a_non_empty_oracle():
    from finetoo_sp_spark import contract

    oracles = contract.oracle_sql()
    bad = [n for n, sql in oracles.items() if not isinstance(sql, str) or not sql.strip()]
    assert not bad, bad


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

    from finetoo_sp_spark import contract
    from finetoo_sp_spark.contract._core import _REGISTRY

    contract.queries()
    cov = (ROOT / "COVERAGE.md").read_text()
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


# Defaulted parameters that no call outside the tests varies but that stay
# settable. A key ``fn(param)`` keeps one parameter; a bare ``fn`` keeps
# every defaulted parameter of ``fn``.
_FIXTURE = "fixture encoder: the decoder tests build inputs with each of its settings"
_KEPT_DEFAULTS = {
    "encode_bmp_bitfields": _FIXTURE,
    "encode_ico": _FIXTURE,
    "encode_flac": _FIXTURE,
    "encode_jpeg_baseline": _FIXTURE,
    "encode_jpeg_progressive": _FIXTURE,
    "encode_png_interlaced": _FIXTURE,
    "encode_webp_anim": _FIXTURE,
    "encode_wav_g711": _FIXTURE,
    "make_wav_g711_codes": _FIXTURE,
    "make_pdf_objstm": _FIXTURE,
    "gen_pages(pdf_every)": "fixture knob: the mixed HTML/PDF corpus the PDF-routing tests read",
    "decrypt_pdf(password)": "a password is a credential, never a constant",
    "encrypt_pdf(owner_pw)": "a password is a credential, never a constant",
    "encrypt_pdf(user_pw)": "a password is a credential, never a constant",
    "get_spark(shuffle_partitions)": "a deployment setting: the shuffle width is the cluster's",
    "read_table(catalog)": "the Spark catalog name is the deployment's",
    "write_table": "seam (on _TEST_ONLY): the write side of the catalog a cluster deployment swaps in",
    "extract_pages_sniffed(repartition_buckets)": "extractor protocol: run_resumable_extraction(extractor=) "
    "calls every extractor with extract_pages' signature",
    "extract_pages_sniffed(keep_cols)": "extractor protocol: run_resumable_extraction(extractor=) "
    "calls every extractor with extract_pages' signature",
    "hll_registers(p)": "must equal the hll_estimate_py(p) that reads the registers back",
    "hll_estimate_py(p)": "must equal the hll_registers(p) the registers were built with",
}


def _is_test_file(rel: Path) -> bool:
    return rel.parts[0] == "tests" or (rel.parts[0] == "extbench" and rel.name.startswith("test_"))


def test_no_defaulted_parameter_that_no_call_varies():
    """Every defaulted parameter of a top-level function under
    finetoo_sp_spark/ (private ones included) must be passed a value
    other than its default by some call outside the tests (by keyword,
    by position, or through a ``*``/``**`` splat); otherwise it is a
    constant and belongs in the body. Calls in tests/ and in
    extbench/test_*.py do not count: an option only a test sets is a
    second code path the product never runs. "Other" compares values
    where both sides fold to a constant (module-level constants, own or
    imported, replaced by their values, so ``SCALE`` equals a default of
    ``1 << 20`` when SCALE is that) and source text otherwise, so passing
    a column name its own default does not count. A call through
    ``functools.partial`` counts as a call, and a function used as a
    value (passed around, stored) outside the tests counts as varying
    every parameter. _KEPT_DEFAULTS lists the exceptions; an entry that
    keeps no such parameter (none exists, or a non-test call now varies
    it) is stale and fails. The failure names the test files whose calls
    vary each finding."""
    trees = _source_trees()

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
    modname = {".".join(p.relative_to(ROOT).with_suffix("").parts): p for p in trees}
    consts = {p: {} for p in trees}
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
        if ROOT / "finetoo_sp_spark" not in p.parents:
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, (arg, d) in enumerate(zip(pos[first:], a.defaults), first):
                knobs.append((p.relative_to(ROOT), fn.name, arg.arg, i, (ast.unparse(d), fold(d, consts[p]))))
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    knobs.append((p.relative_to(ROOT), fn.name, arg.arg, None, (ast.unparse(d), fold(d, consts[p]))))

    def name_of(node):
        return node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)

    calls, as_value = {}, {}  # name -> [(args, keywords, consts, file)], name -> {file}
    for p, tree in trees.items():
        rel = p.relative_to(ROOT)
        callees = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                callees.add(id(n.func))
                calls.setdefault(name_of(n.func), []).append((n.args, n.keywords, consts[p], rel))
                if name_of(n.func) == "partial" and n.args:
                    callees.add(id(n.args[0]))
                    target = name_of(n.args[0])
                    calls.setdefault(target, []).append((n.args[1:], n.keywords, consts[p], rel))
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in callees:
                as_value.setdefault(name_of(n), set()).add(rel)

    def varies(args, keywords, call_consts, param, idx, default):
        for k in keywords:
            if k.arg is None or (k.arg == param and not same(k.value, call_consts, default)):
                return True
        if idx is None:
            return False
        if any(isinstance(x, ast.Starred) for x in args[: idx + 1]):
            return True
        return len(args) > idx and not same(args[idx], call_consts, default)

    def varied_in(fn, param, idx, default):
        """The files whose calls vary the parameter, or use fn as a value."""
        files = {
            rel
            for args, keywords, call_consts, rel in calls.get(fn, [])
            if varies(args, keywords, call_consts, param, idx, default)
        }
        return files | as_value.get(fn, set())

    findings = {}  # "module::fn(param)" -> the test files that vary it
    kept_hits = {}  # _KEPT_DEFAULTS key -> [whether each parameter it covers is a finding]
    for mod, fn, param, idx, default in knobs:
        files = varied_in(fn, param, idx, default)
        fixed = all(_is_test_file(rel) for rel in files)
        key = next((k for k in (f"{fn}({param})", fn) if k in _KEPT_DEFAULTS), None)
        if key is not None:
            kept_hits.setdefault(key, []).append(fixed)
        elif fixed:
            findings[f"{mod}::{fn}({param})"] = sorted(str(rel) for rel in files)
    assert not findings, f"{sorted(findings)}\n" + "\n".join(
        f"{k} is varied only by {', '.join(v) or 'no call'}" for k, v in sorted(findings.items())
    )
    stale = sorted(k for k in _KEPT_DEFAULTS if not any(kept_hits.get(k, [])))
    assert not stale, stale


# Definitions under finetoo_sp_spark/ that only tests reach, by design.
_TEST_ONLY = {
    "codecs.png:encode_png_gray_sub8": "fixture encoder: the sub-8-bit grayscale PNGs the decoder tests read",
    "codecs.png:encode_png_interlaced": "fixture encoder: the Adam7 PNGs the decoder's interlace branch tests read",
    "codecs.wav:encode_wav_g711": "fixture encoder: the G.711 WAVs the decoder tests read",
    "codecs.wav:_g711_encode": "the companding step of the encode_wav_g711 fixture encoder",
    "codecs.wav:encode_wav_ima_adpcm": "fixture encoder: the IMA ADPCM WAVs the decoder tests read",
    "extraction.pdf:make_fake_pdf": "fixture encoder: the FAKEPDF payloads the layout tests read",
    "operators.sketch:hll_estimate_py": "oracle twin: the driver-side read-out that checks hll_registers",
    "operators.dedup:embedding_near_dup_pairs": "oracle twin: the all-pairs check of the bucketed emb_dedup path",
    "extraction.dxf:parse_dxf_blocks": "parity with the reference parse_dxf report (its file.blocks)",
    "extraction.dxf:dxf_version": "parity with the reference parse_dxf report (its $ACADVER header)",
    "sources.catalog:read_table": "seam: the read half of the Iceberg-or-parquet catalog a cluster deployment swaps in",
    "sources.catalog:write_table": "seam: the write half of the Iceberg-or-parquet catalog",
    "sources.cdx:zipnum_lookup": "seam: the lookup side of the ZipNum index that read_zipnum_blocks scans",
    "extraction.fields:register_field_schema": "seam: installs field rules into the schema registry operator discovery reads",
}


def test_every_definition_is_reached_from_an_entry_point():
    """Every top-level def and class under finetoo_sp_spark/ (private
    ones included) is reachable from an entry point, or is on
    _TEST_ONLY with a reason. Entry points: every @_q builder, the
    module-level code of package modules, every name used in tools/*.py,
    bench.py, __spark_entry__.py and the non-test files of extbench/,
    and session.get_spark. Reachability closes over names: a Name or an
    Attribute.attr equal to a definition's name uses every definition of
    that name, and a reached definition uses every name in its body,
    decorators and defaults. An import alone is not a use, nor is an
    Attribute.attr whose base is a name the file binds by importing from
    outside finetoo_sp_spark (``pq.write_table`` is pyarrow's). A _TEST_ONLY
    entry that no longer exists or that an entry point now reaches is
    stale and fails too."""
    trees = _source_trees()
    pkg = ROOT / "finetoo_sp_spark"

    def library_names(tree):
        """Names the file binds by importing from outside finetoo_sp_spark."""
        out = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                out |= {
                    a.asname or a.name.split(".")[0]
                    for a in n.names
                    if a.name.split(".")[0] != "finetoo_sp_spark"
                }
            elif isinstance(n, ast.ImportFrom) and n.level == 0 and n.module.split(".")[0] != "finetoo_sp_spark":
                out |= {a.asname or a.name for a in n.names}
        return out

    def names(node, lib):
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, ast.Name)
            or (isinstance(n, ast.Attribute) and getattr(n.value, "id", None) not in lib)
        }

    defs = {}  # "module:name" -> (node, its file's library names)
    roots = {"get_spark"}
    for p, tree in trees.items():
        rel = p.relative_to(ROOT)
        lib = library_names(tree)
        if pkg in p.parents:
            mod = ".".join(rel.with_suffix("").parts[1:])
            for st in tree.body:
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs[f"{mod}:{st.name}"] = (st, lib)
                    if any(
                        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_q"
                        for d in st.decorator_list
                    ):
                        roots.add(st.name)
                else:
                    roots |= names(st, lib)
        elif (
            (rel.parts[0] == "tools" and len(rel.parts) == 2)
            or str(rel) in ("bench.py", "__spark_entry__.py")
            or (rel.parts[0] == "extbench" and not rel.name.startswith("test_"))
        ):
            roots |= names(tree, lib)

    by_name = {}
    for key, (st, _lib) in defs.items():
        by_name.setdefault(st.name, []).append(key)

    def reached(start):
        seen, out, todo = set(), set(), list(start)
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                for key in by_name.get(n, []):
                    out.add(key)
                    todo.extend(names(*defs[key]))
        return out

    from_entries = reached(roots)
    allowed = reached({key.split(":")[1] for key in _TEST_ONLY})
    unreachable = sorted(set(defs) - from_entries - allowed)
    assert not unreachable, unreachable
    stale = sorted(k for k in _TEST_ONLY if k not in defs or k in from_entries)
    assert not stale, stale
