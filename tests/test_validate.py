"""Expectation checks (round 17): count mirrors, NULL-as-violation law,
single-scan plan pin, SQL twin, CLI."""
from __future__ import annotations

import pytest

from ds_jedai_spark.operators import validate as V


ROWS = [
    (1, "alpha", 5, "en"),
    (2, None, 4, "en"),       # nn_text violation
    (3, "gamma", -1, "fr"),   # range violation
    (4, "delta", 5, "zz"),    # domain violation
    (5, "eps", None, "en"),   # NULL range -> violation (unknown fails)
]
RULES = {
    "nn_text": "text IS NOT NULL",
    "n_range": "n >= 0",
    "lang_dom": "lang IN ('en', 'de', 'fr')",
    # row 2: length(NULL text) is NULL -> predicate NULL -> violation,
    # the conservative unknown-fails contract
    "cross": "n IS NULL OR n <= length(text)",
}
WANT = {"nn_text": 1, "n_range": 2, "lang_dom": 1, "cross": 1}


def _df(spark):
    return spark.createDataFrame(
        ROWS, "doc_id long, text string, n int, lang string"
    )


def test_counts_match_mirror_and_null_is_violation(spark):
    got = {
        r["rule"]: (r["violations"], r["total"])
        for r in V.validate(_df(spark), RULES).collect()
    }
    assert got == {k: (v, len(ROWS)) for k, v in WANT.items()}


def test_wide_form_and_validation(spark):
    row = V.validate_wide(_df(spark), RULES).first()
    assert row["total"] == len(ROWS)
    for k, v in WANT.items():
        assert row[k] == v
    with pytest.raises(ValueError, match="rules"):
        V.validate_wide(_df(spark), {})
    with pytest.raises(ValueError, match="rules"):
        V.validate_sql("SELECT 1", {})


def test_single_scan_no_python(spark):
    plan = (
        V.validate(_df(spark), RULES)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Scan ") == 1  # one pass over the data


def test_sql_twin_matches(spark):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE base (doc_id BIGINT, text VARCHAR, n INT, "
        "lang VARCHAR)"
    )
    con.executemany("INSERT INTO base VALUES (?, ?, ?, ?)", ROWS)
    row = con.execute(
        V.validate_sql("SELECT * FROM base", RULES)
    ).df().iloc[0]
    assert row["total"] == len(ROWS)
    for k, v in WANT.items():
        assert row[k] == v


def test_profile_matches_mirror(spark):
    got = {
        r["column"]: (r["n"], r["nulls"], r["n_distinct"],
                      r["min_str"], r["max_str"])
        for r in V.profile(_df(spark), ["text", "n", "lang"]).collect()
    }
    assert got == {
        "text": (5, 1, 4, "alpha", "gamma"),
        "n": (5, 1, 3, "-1", "5"),
        "lang": (5, 0, 3, "en", "zz"),
    }
    with pytest.raises(ValueError, match="column"):
        V.profile(_df(spark), [])


def test_profile_duckdb_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE base (doc_id BIGINT, text VARCHAR, n INT, "
        "lang VARCHAR)"
    )
    con.executemany("INSERT INTO base VALUES (?, ?, ?, ?)", ROWS)
    for c in ("n", "lang"):
        want = con.execute(
            f"SELECT count(*), sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 "
            f"END), count(DISTINCT {c}), CAST(min({c}) AS VARCHAR), "
            f"CAST(max({c}) AS VARCHAR) FROM base"
        ).fetchone()
        r = [x for x in V.profile(_df(spark), [c]).collect()][0]
        assert (r["n"], r["nulls"], r["n_distinct"], r["min_str"],
                r["max_str"]) == tuple(want), c


def test_cli_op_profile(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "pf.parquet")
    _df(spark).write.parquet(p)
    rc = cli_main(["-op", "profile", "-left", p, "-cols", "lang,n"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "lang" in out and "n_distinct" in out
    assert cli_main(["-op", "profile"]) == 2


def test_cli_op_validate(spark, tmp_path, capsys, cli_main):
    p = str(tmp_path / "v.parquet")
    _df(spark).write.parquet(p)
    rc = cli_main(["-op", "validate", "-left", p,
                   "-rules", "nn_text:text IS NOT NULL; n_range:n >= 0"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "nn_text" in out and "n_range" in out
    assert cli_main(["-op", "validate", "-left", p]) == 2
    assert cli_main(["-op", "validate", "-left", p, "-rules", "nope"]) == 2
