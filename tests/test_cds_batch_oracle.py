"""The benchmark's planted-dirt oracle as an end-to-end CLI test.

`perfbench/cds_gen.py` plants every kind of dirt (duplicate rows, enum
synonyms, extra-long values, SSN-like file names, participant and file
conflicts, many_to_many files, orphans) on its own entities, so the row
count of every node TSV and validation report is known by construction.
A ~200-row batch keeps every kind at one unit or more.
"""

import importlib.util
import os

from cds_etl_spark.cli import main

_GEN = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", "cds_gen.py")


def _cds_gen():
    spec = importlib.util.spec_from_file_location("cds_gen", _GEN)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cli_transform_matches_planted_counts(spark, tmp_path):
    cds_gen = _cds_gen()
    rows = 200
    assert min(cds_gen.unit_counts(rows).values()) >= 1
    inputs = str(tmp_path / "input")
    batch = cds_gen.write_batch(inputs, 1, [rows])
    run_dir = str(tmp_path / "run")
    config = cds_gen.write_config(inputs, batch, run_dir)
    assert main(["--config_file", config], spark=spark) == 0
    assert cds_gen.count_outputs(run_dir) == batch["expected"]
