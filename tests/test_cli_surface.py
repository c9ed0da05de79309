"""The CLI's surface without Spark: every flag and every op's needed
flags against the snapshot in cli_surface.json, the usage errors that
refuse bad input before Spark starts (-bbox, -conf, -budget, spatial
inputs, flag values), and the single pin write path."""

import json
from pathlib import Path

import pytest
import yaml

import ds_jedai_spark.session as session
from ds_jedai_spark import cli

SNAPSHOT = json.loads(
    (Path(__file__).resolve().parent / "cli_surface.json").read_text()
)
PACKAGE = Path(cli.__file__).resolve().parent
TSV = str(PACKAGE.parent / "fixtures" / "wkt_source.tsv")


@pytest.fixture
def no_spark(monkeypatch):
    """Fail the test if the CLI starts a Spark session."""
    def refuse(*a, **k):
        raise AssertionError("session.get_spark was called")

    monkeypatch.setattr(session, "get_spark", refuse)


def test_parser_flags_match_snapshot(monkeypatch):
    monkeypatch.delenv("TESTDATA_DIR", raising=False)
    got = [
        {"option_strings": a.option_strings, "dest": a.dest,
         "default": a.default,
         "choices": list(a.choices) if a.choices else None}
        for a in cli.build_parser()._actions
    ]
    assert got == SNAPSHOT["flags"]


def test_op_table_matches_parser_and_needs_snapshot():
    assert list(cli.OPS) == next(
        f["choices"] for f in SNAPSHOT["flags"] if f["dest"] == "op")
    assert {name: list(op.needs) for name, op in cli.OPS.items()} == \
        SNAPSHOT["needs"]


@pytest.mark.parametrize("op", list(SNAPSHOT["needs"]))
def test_missing_needed_flag_exits_2_before_spark(op, no_spark, capsys):
    needs = SNAPSHOT["needs"][op]
    for missing in needs:
        argv = ["-op", op]
        for dest in needs:
            if dest != missing:
                argv += ["-" + dest.replace("_", "-"), "1"]
        assert cli.main(argv) == 2, (op, missing)
        err = capsys.readouterr().err
        assert err.rstrip().endswith("missing -" + missing.replace("_", "-"))


def test_id_col_default_follows_spatial_ops(monkeypatch):
    # the ops that read through api.read_dataset default -id-col to
    # "id"; this is the list the id-col default was hand-kept as
    spatial = {"relate", "convert", "perturb", "reproject", "measures",
               "density", "dbscan", "geohash", "hull", "knn", "distance",
               "zorder", "zonal"}
    assert set(cli.BBOX_OPS) == spatial
    seen = {}
    monkeypatch.setattr(cli, "_run_op",
                        lambda args: seen.setdefault(args.op, args.id_col))
    for op in cli.OPS:
        cli.main(["-op", op])
    assert seen == {op: "id" if op in spatial else "doc_id"
                    for op in cli.OPS}


def test_bbox_on_non_spatial_op_exits_2(no_spark, capsys):
    assert cli.main(["-op", "dedup", "-left", "d.parquet",
                     "-bbox", "0,0,1,1"]) == 2
    err = capsys.readouterr().err
    assert all(op in err for op in cli.BBOX_OPS), err
    bbox_help = next(a.help for a in cli.build_parser()._actions
                     if a.dest == "bbox")
    assert "/".join(cli.BBOX_OPS) in bbox_help


@pytest.mark.parametrize("conf", [
    {"relation": "nope"},
    {"configurations": {"gridType": "nope"}},
])
def test_conf_config_error_exits_2(conf, tmp_path, no_spark, capsys):
    doc = {"source": {"path": "s.tsv"}, "target": {"path": "t.tsv"}, **conf}
    p = tmp_path / "conf.yaml"
    p.write_text(yaml.safe_dump(doc))
    assert cli.main(["-conf", str(p)]) == 2
    assert "nope" in capsys.readouterr().err.lower()


@pytest.mark.parametrize("argv, says", [
    (["-op", "convert", "-left", "{missing}", "-out", "o"],
     "no such dataset"),
    (["-op", "convert", "-left", "{bad_ext}", "-out", "o"],
     "unsupported dataset extension"),
    (["-op", "knn", "-left", TSV, "-right", "{missing}"], "no such dataset"),
    (["-op", "convert", "-left", TSV, "-out", "o", "-to", "nope"],
     "unknown -to"),
    (["-op", "quantiles", "-left", "d.parquet", "-value-col", "v",
      "-permille", "10,x"], "-permille"),
    (["-op", "er", "-left", "d.parquet", "-filter-ratio", "4-5"],
     "-filter-ratio"),
    (["-op", "validate", "-left", "d.parquet", "-rules", "no_colon"],
     "-rules"),
    (["-op", "interval", "-left", "a.parquet", "-right", "b.parquet",
      "-bucket-us", "none"], "bucket width"),
    (["-op", "ann", "-left", "v.parquet", "-method", "brute",
      "-index", "idx"], "drop -index"),
    (["-op", "relate", "-left", TSV, "-right", TSV, "-budget", "0"],
     "budget"),
])
def test_bad_input_exits_2_before_spark(argv, says, tmp_path, no_spark,
                                        capsys):
    bad_ext = tmp_path / "data.xyz"
    bad_ext.write_text("x")
    argv = [a.format(missing=tmp_path / "absent.tsv", bad_ext=bad_ext)
            for a in argv]
    assert cli.main(argv) == 2
    err = capsys.readouterr().err
    assert err.startswith(f"-op {argv[1]}: ") and says in err, err


def test_conf_budget_below_one_exits_2(tmp_path, no_spark, capsys):
    p = tmp_path / "conf.yaml"
    p.write_text(yaml.safe_dump(
        {"source": {"path": "s.tsv"}, "target": {"path": "t.tsv"}}))
    assert cli.main(["-conf", str(p), "-budget", "0"]) == 2
    assert "budget" in capsys.readouterr().err


def test_local_checkpoint_only_in_pins():
    raw = sorted(
        str(f.relative_to(PACKAGE))
        for f in PACKAGE.rglob("*.py")
        if f != PACKAGE / "pins.py" and ".localCheckpoint(" in f.read_text()
    )
    assert raw == [], f"use pins.pin instead of .localCheckpoint() in {raw}"
