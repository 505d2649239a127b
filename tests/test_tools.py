"""Guards for the tooling layer: the cross-scale checker's override
map must stay in sync with the driver contract, or a renamed query
would silently fall back to its (possibly infeasible) full oracle."""

import os
import sys


def _tools_dir_on_path():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(repo, "tools")
    for p in (repo, tools):
        if p not in sys.path:
            sys.path.insert(0, p)


def test_cross_scale_overrides_match_contract():
    _tools_dir_on_path()
    import cross_scale_check as xs

    import __spark_entry__ as entry

    # build_overrides only CLOSES OVER spark/sf_dir; nothing executes
    # until a lambda is called, so None is fine for a shape check.
    over = xs.build_overrides(None, "/nonexistent")
    contract = set(entry.queries())
    supporting = {"training_edges_sampled"}
    assert set(over) - supporting <= contract, set(over) - contract
    # exactly the 11 quadratic-oracle queries are overridden (the 8
    # original + the round-5 cluster consumers and the funnel report,
    # whose oracles embed the same all-pairs Jaccard edge derivation)
    assert set(over) - supporting == {
        "scored_pairs_nw", "match_edges", "clusters",
        "clusters_incremental", "doc_minhash_neardup",
        "doc_neardup_clusters", "doc_dedup_corpus",
        "doc_training_corpus", "training_funnel_documents",
        "cluster_audit_documents", "golden_records_documents"}
    # every override carries a tag the report prints
    assert all(len(v) == 3 and v[2] for v in over.values())


def test_md5_stratum_agrees_between_spark_and_duckdb(spark):
    """The cross-scale sampled oracles assume Spark and DuckDB draw
    the IDENTICAL pair stratum from md5 of the same rendered string —
    pin that foundation: lowercase hex digests and the substring
    comparison agree for representative id shapes (event conv_ids,
    bigint doc_ids, multi-byte text)."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [(f"u{i}", i * 7919) for i in range(200)]
    rows += [("uß∂", 1), ("", 0), ("u1|u2", 3)]  # separator/unicode edges
    df = spark.createDataFrame(rows, "id_a string, id_b long")
    got = {(r["id_a"], r["id_b"]): (r["h"], r["in_stratum"]) for r in
           df.select(
               "id_a", "id_b",
               F.md5(F.concat_ws("|", F.col("id_a"),
                                 F.col("id_b").cast("string"))).alias("h"),
               (F.substring(F.md5(F.concat_ws(
                   "|", F.col("id_a"),
                   F.col("id_b").cast("string"))), 1, 2) <= "07")
               .alias("in_stratum")).collect()}
    con = duckdb.connect()
    for (ia, ib), (h, strat) in got.items():
        dh, dstrat = con.execute(
            "SELECT md5(? || '|' || CAST(CAST(? AS BIGINT) AS VARCHAR)),"
            " substr(md5(? || '|' || CAST(CAST(? AS BIGINT) AS VARCHAR)),"
            " 1, 2) <= '07'", [ia, ib, ia, ib]).fetchone()
        assert (dh, dstrat) == (h, strat), (ia, ib, h, dh)
    # the stratum is non-trivial at this sample size
    frac = sum(1 for _, s in got.values() if s) / len(got)
    assert 0.0 < frac < 0.15, frac


def test_sampled_checker_catches_perturbation(spark, monkeypatch):
    """Negative control for the cross-scale sampled oracle: with the
    stratum widened to 100% at sf0.001 (the default 3.1% stratum is
    empty at that scale), the Spark side and the stratum-injected
    DuckDB oracle must hash-equal — and a single perturbed
    edit_distance value must break the hash.  Guards against the
    checker ever passing vacuously."""
    import duckdb

    _tools_dir_on_path()
    import cross_scale_check as xs
    from check_contract import TABLES, frame_hash

    monkeypatch.setattr(xs, "STRATUM", "ff")  # 256/256 = every pair
    sf = "/root/testdata/sf0.001"
    over = xs.build_overrides(spark, sf)
    spark_fn, oracle_fn, _tag = over["scored_pairs_nw"]

    sdf = spark_fn()
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) > 10  # non-vacuous at full stratum

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    res = con.execute(oracle_fn())
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols)
    assert frame_hash(scols, srows) == frame_hash(dcols, drows)

    # flip one value: the order-insensitive hash must notice
    bad = list(srows)
    idx = scols.index("edit_distance")
    bad[0] = bad[0][:idx] + (bad[0][idx] + 1,) + bad[0][idx + 1:]
    assert frame_hash(scols, bad) != frame_hash(dcols, drows)
    # and a dropped row too (count aside, the hash itself must differ)
    assert frame_hash(scols, srows[1:]) != frame_hash(dcols, drows)


def test_registry_is_one_ordered_table():
    """queries() and oracle_sql() are two views of one registry: the
    same 75 names in the same order, every entry tagged with one of the
    fixed families and backed by a non-empty oracle, and the driver's
    graded window (the first 50 entries) reaches every family."""
    _tools_dir_on_path()
    import __spark_entry__ as entry
    from edlib_spark.driver_contract import FAMILIES, registry

    names = list(entry.queries())
    assert len(names) == 75 == len(set(names))
    assert list(entry.oracle_sql()) == names
    reg = registry()
    assert [q.name for q in reg] == names
    assert set(FAMILIES) == {"pipeline", "alignment", "blocking", "fs",
                             "dedup_text", "ann", "cluster", "media"}
    assert {q.family for q in reg} == set(FAMILIES)
    assert all(callable(q.spark_fn) for q in reg)
    assert all(isinstance(q.oracle, str) and q.oracle.strip() for q in reg)
    assert {q.family for q in reg[:50]} == set(FAMILIES)


def test_tools_import_their_own_checkout():
    """Every script that puts the package on sys.path derives the path
    from its own ``__file__``, and none names this checkout's directory
    in a literal: a tool run from a second checkout (a parent-commit
    copy for an A/B, say) must import and grade that copy, and write
    its reports and side tables there."""
    import ast
    import glob

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = sorted(glob.glob(os.path.join(repo, "tools", "*.py")))
    scripts.append(os.path.join(repo, "bench.py"))
    inserts = 0
    for path in scripts:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and ast.unparse(node.func) == "sys.path.insert"):
                inserts += 1
                assert not isinstance(node.args[1], ast.Constant), (
                    path, ast.unparse(node))
            if isinstance(node, ast.Constant) and isinstance(
                    node.value, str):
                assert repo not in node.value, (path, node.value)
    assert inserts >= 6, inserts  # the five contract/bench tools + bench.py


def test_package_data_dir_is_its_own_checkout(tmp_path):
    """The named corpora and the contract's side tables default to the
    data dir next to the imported package: a second checkout of the
    package (a parent-commit copy for an A/B, say) must read and write
    its own ``data/``, never the first checkout's."""
    import shutil
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checkout = tmp_path / "checkout"
    shutil.copytree(os.path.join(repo, "edlib_spark"),
                    checkout / "edlib_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    probe = ("import inspect\n"
             "from edlib_spark import driver_contract as dc\n"
             "from edlib_spark.sources import transcripts as t\n"
             "print(t.transcripts_path('small'))\n"
             "print(inspect.signature(t.ensure_transcripts_parquet)"
             ".parameters['base_dir'].default)\n"
             "print(dc._GRAM_HASHES_PATH)\n")
    out = subprocess.run([sys.executable, "-c", probe], cwd=checkout,
                         env={**os.environ, "PYTHONPATH": str(checkout)},
                         capture_output=True, text=True, check=True)
    data = os.path.join(str(checkout), "data")
    lines = out.stdout.split()
    assert lines == [os.path.join(data, "transcripts_small.parquet"), data,
                     os.path.join(data, "gram_hashes_current.parquet")]


def test_kernel_microbench_keeps_hand_written_sections(tmp_path):
    """``tools/kernel_microbench.py`` rewrites only its own marked
    sections of BENCH/KERNEL.md: a hand-written section survives, and a
    run without the live race keeps the live table it last measured."""
    import importlib.util
    import shutil

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "edlib_spark_tools_kernel_microbench",
        os.path.join(repo, "tools", "kernel_microbench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    path = tmp_path / "KERNEL.md"
    shutil.copy(os.path.join(repo, "BENCH", "KERNEL.md"), path)
    hand = "## A hand-written A/B\n\nparent 1.00 / change 0.99\n"
    with open(path, "a") as fh:
        fh.write("\n" + hand)
    before = path.read_text()
    live_table = before[before.index("## Live"):
                        before.index("<!-- kernel_microbench:live end")]

    bench.write_report(str(path), [(30, 1.25, 1.88, 1.5)], [], 0.5, 0.6)
    after = path.read_text()
    assert hand in after
    assert live_table in after
    assert "| 30×30 | 1.25 | 1.88 | 1.50x |" in after
    assert "pre 0.50 / post\n0.60 units/s" in after
    bench.write_report(str(path), [(30, 1.25, 1.88, 1.5)],
                       [(30, 1.25, 1.30, 1.04)], 0.5, 0.6)
    after = path.read_text()
    assert hand in after and live_table not in after
    assert "| 30×30 | 1.25 | 1.30 | 1.04x |" in after
    assert after.count("kernel_microbench:live begin") == 1
