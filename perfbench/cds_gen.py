"""Deterministic CDS metadata generator (FIXTURES.md §2 shape).

Writes a complete batch that ``cds_etl_spark.cli.main`` can transform:
one or more denormalized v1.3 ``Metadata`` tables (TSV, raw submitter
column names) plus the config, model, props, raw dictionary, clean
dictionary and UI-mapping YAML the CLI reads.

Every kind of dirt is planted on its own entities ("units"), so the
surviving node rows and the validation report rows are known by
construction (``expected_counts``):

==============  =====================================================
unit kind       rows and effect
==============  =====================================================
clean           1 row; whitespace padding and blank ``bases`` cells
dup             2 rows, identical after trimming (full-row dedup)
synonym         1 row of enum synonyms (``female``, ``normal``,
                ``fastq``, ``wgs``); numeric cells as ``'42.0'``
long            1 row (one per file) whose library_strategy is the
                >1000-char ``extra_long_values`` entry
ssn             1 row whose file name carries an SSN-like run
                (one per pattern, cycling)
conflict_p      2 rows, same participant, different gender: the
                participant is reported and its sample, file and
                genomic_info are cascade-deleted
conflict_f      2 rows, same file, different file_size: the file is
                reported and its genomic_info is cascade-deleted
m2m             2 rows, one file under two samples (``from_sample`` is
                many_to_many, so the sole FK conflict is exempt)
orphan          1 row with a blank study id: the participant is
                reported as an orphan and its children cascade away
==============  =====================================================

The UI mapping requires ``participant.ethnicity``, which no input
carries, so every file adds one Properties report row. The raw
dictionary maps both ``GUID`` and ``guid`` to ``file_id``; files
alternate which spelling they carry, and the seed picks the first
(Spark resolves column names case-insensitively, so one file cannot
hold both).
"""

from __future__ import annotations

import csv
import os
import random

import yaml

LONG_VALUE = "L" * 1100

MODEL = {
    "Version": "bench",
    "Nodes": {
        "study": {"Props": ["phs_accession", "study_name", "study_data_types", "study_version"]},
        "participant": {"Props": ["participant_id", "gender", "race", "ethnicity"]},
        "sample": {"Props": ["sample_id", "sample_type"]},
        "file": {"Props": ["file_id", "file_name", "file_type", "file_size"]},
        "genomic_info": {"Props": ["library_id", "library_strategy", "bases"]},
        "treatment": {"Props": ["treatment_type"]},
    },
    "Relationships": {
        "of_study": {"Mul": "many_to_one", "Ends": [{"Src": "participant", "Dst": "study"}]},
        "of_participant": {"Mul": "many_to_one", "Ends": [{"Src": "sample", "Dst": "participant"}]},
        "from_sample": {"Mul": "many_to_many", "Ends": [{"Src": "file", "Dst": "sample"}]},
        "of_file": {"Mul": "many_to_one", "Ends": [{"Src": "genomic_info", "Dst": "file"}]},
    },
}

PROPS = {
    "PropDefinitions": {
        "gender": {"Enum": ["Male", "Female"]},
        "race": {"Enum": ["White", "Asian", "Black or African American"]},
        "sample_type": {"Enum": ["Tumor", "Normal"]},
        "file_type": {"Enum": ["FASTQ", "BAM"]},
        "library_strategy": {"Enum": ["WGS", "WXS"]},
        "file_size": {"Type": "integer"},
        "bases": {"Type": "integer"},
    }
}

RAW_DICT = {
    "study": {
        "phs_accession": "phs_accession",
        "study_name": "study_name",
        "study_data_type": "study_data_types",
        "study_version": "study_version",
    },
    "participant": {"participant id": "participant_id", "gender": "gender", "race": "race"},
    "sample": {"sample_id": "sample_id", "sample_type": "sample_type"},
    "file": {
        "GUID": "file_id",
        "guid": "file_id",
        "file_name": "file_name",
        "file_format": "file_type",
        "file_size": "file_size",
    },
    "genomic_info": {"library_strategy": "library_strategy", "bases": "bases"},
    "treatment": {"treatment_type": "treatment_type"},
}

CLEAN_DICT = {
    "gender": {"female": "Female", "male": "Male"},
    "sample_type": {"normal": "Normal", "tumor": "Tumor", "nan_value": "Not Reported"},
    "file_type": {"fastq": "FASTQ", "bam": "BAM"},
    "library_strategy": {"wgs": "WGS", "wxs": "WXS"},
    "extra_long_values": [LONG_VALUE],
}

UI_MAPPING = {"participant": ["ethnicity", "race"]}

COLUMNS = [
    "phs_accession", "study_name", "study_data_type", "study_version",
    "participant id", "gender", "race", "sample_id", "sample_type",
    "GUID", "file_name", "file_format", "file_size",
    "library_strategy", "bases", "treatment_type",
]

# Share of units per kind; ``long`` is one unit per file on top.
KIND_SHARES = (
    ("clean", 0.56),
    ("dup", 0.08),
    ("synonym", 0.10),
    ("ssn", 0.04),
    ("conflict_p", 0.05),
    ("conflict_f", 0.05),
    ("m2m", 0.07),
    ("orphan", 0.05),
)
ROWS_PER_UNIT = {
    "clean": 1, "dup": 2, "synonym": 1, "long": 1, "ssn": 1,
    "conflict_p": 2, "conflict_f": 2, "m2m": 2, "orphan": 1,
}
SSN_NAMES = ("scan_{n:03d}-45-6789.bam", "scan_{n:03d}_45_6789.bam", "scan_x{n:03d}456789_r.bam")


def unit_counts(rows: int) -> dict[str, int]:
    """Units per kind for a file of about ``rows`` rows."""
    per_unit = sum(share * ROWS_PER_UNIT[k] for k, share in KIND_SHARES)
    units = max(1, int(rows / per_unit))
    counts = {k: max(1, round(units * share)) for k, share in KIND_SHARES}
    counts["long"] = 1
    return counts


def expected_counts(units: dict[str, int]) -> dict[str, int]:
    """Surviving node rows and per-file report rows, by construction."""
    u = units
    kept = u["clean"] + u["dup"] + u["synonym"] + u["long"] + u["ssn"]
    return {
        "study": 1,
        "participant": kept + u["conflict_f"] + u["m2m"],
        "sample": kept + u["conflict_f"] + 2 * u["m2m"],
        "file": kept + 2 * u["m2m"],
        "genomic_info": kept + u["m2m"],
        "ID": u["conflict_p"] + u["conflict_f"],
        "Parent": u["orphan"],
    }


def _rows(rng: random.Random, file_no: int, units: dict[str, int]) -> list[list[str]]:
    phs = f"phs{900000 + file_no:06d}"
    out: list[list[str]] = []
    n = 0

    def row(kind_tag, pid, sid, fid, **kw):
        return [
            kw.get("phs", phs),
            kw.get("study_name", f"Study {file_no}"),
            kw.get("sdt", rng.choice(("Genomic", "Imaging"))),
            "2",
            pid,
            kw.get("gender", rng.choice(("Male", "Female"))),
            kw.get("race", rng.choice(("White", "Asian", "Black or African American"))),
            sid,
            kw.get("stype", rng.choice(("Tumor", "Normal"))),
            f"G{file_no}-{fid}",
            kw.get("fname", f"{phs}_{kind_tag}{fid}.bam"),
            kw.get("ftype", rng.choice(("BAM", "FASTQ"))),
            kw.get("fsize", str(rng.randrange(1000, 10**7))),
            kw.get("lib", rng.choice(("WGS", "WXS"))),
            kw.get("bases", str(rng.randrange(10**6, 10**9))),
            "Rx",
        ]

    for kind in ("clean", "dup", "synonym", "long", "ssn", "conflict_p", "conflict_f", "m2m", "orphan"):
        for _ in range(units[kind]):
            n += 1
            pid, sid, fid = f"P{file_no}-{n}", f"S{file_no}-{n}", f"F{n:07d}"
            tag = kind[0]
            if kind == "clean":
                kw = {}
                if n % 3 == 0:
                    kw["study_name"] = f"  Study {file_no} "
                if n % 5 == 0:
                    kw["bases"] = "   "
                out.append(row(tag, pid, sid, fid, **kw))
            elif kind == "dup":
                r = row(tag, pid, sid, fid)
                padded = list(r)
                padded[5] = f" {r[5]} "
                padded[13] = f"{r[13]}  "
                out += [r, padded]
            elif kind == "synonym":
                out.append(row(tag, pid, sid, fid, gender="female", stype="normal",
                               ftype="fastq", lib="wgs", fsize="4200.0", bases="42.0"))
            elif kind == "long":
                out.append(row(tag, pid, sid, fid, lib=LONG_VALUE))
            elif kind == "ssn":
                name = SSN_NAMES[n % len(SSN_NAMES)].format(n=n % 1000)
                out.append(row(tag, pid, sid, fid, fname=name))
            elif kind == "conflict_p":
                r = row(tag, pid, sid, fid, gender="Male")
                c = list(r)
                c[5] = "Female"
                out += [r, c]
            elif kind == "conflict_f":
                r = row(tag, pid, sid, fid, fsize="1000")
                c = list(r)
                c[12] = "2000"
                out += [r, c]
            elif kind == "m2m":
                r = row(tag, pid, sid + "a", fid)
                c = list(r)
                c[7] = sid + "b"
                out += [r, c]
            elif kind == "orphan":
                out.append(row(tag, pid, sid, fid, phs="   "))
    rng.shuffle(out)
    return out


def write_batch(root: str, seed: int, file_rows: list[int]) -> dict:
    """Generate one batch under ``root``; returns the config path and the
    expected per-file counts (keyed by the file's output prefix)."""
    rng = random.Random(seed)
    raw = os.path.join(root, "raw", "batch")
    os.makedirs(raw, exist_ok=True)
    expected: dict[str, dict[str, int]] = {}
    batch_reports = {"Properties": len(file_rows), "Filename": 0}
    total_rows = 0
    for i, rows in enumerate(file_rows):
        units = unit_counts(rows)
        data = _rows(rng, i, units)
        prefix = f"study{i:02d}"
        with open(os.path.join(raw, prefix + ".tsv"), "w", newline="") as f:
            w = csv.writer(f, delimiter="\t", lineterminator="\n")
            # The seed and file number pick the file-id spelling.
            w.writerow(COLUMNS if (i + seed) % 2 == 0 else [c.lower() if c == "GUID" else c for c in COLUMNS])
            w.writerows(data)
        expected[prefix] = expected_counts(units)
        batch_reports["Filename"] += units["ssn"]
        total_rows += len(data)
    # The Properties and Filename reports are written once per batch.
    expected["batch"] = batch_reports
    files = {}
    for name, obj in (
        ("model.yaml", MODEL),
        ("props.yaml", PROPS),
        ("raw_dict.yaml", RAW_DICT),
        ("clean_dict.yaml", CLEAN_DICT),
        ("ui_mapping.yaml", UI_MAPPING),
    ):
        files[name] = os.path.join(root, name)
        with open(files[name], "w") as f:
            yaml.safe_dump(obj, f)
    return {"files": files, "expected": expected, "rows": total_rows}


def write_config(root: str, batch: dict, run_dir: str) -> str:
    """A config whose output, report and history-state paths all live in
    the fresh ``run_dir``, so no run sees another run's state."""
    f = batch["files"]
    config = {
        "NODE_FILE": f["model.yaml"],
        "MODEL_FILE_PROPS": f["props.yaml"],
        "RAW_DATA_DICTIONARY": f["raw_dict.yaml"],
        "CLEAN_DICT": f["clean_dict.yaml"],
        "VALIDATION_FILE": f["ui_mapping.yaml"],
        "DATA_FOLDER": os.path.join(root, "raw"),
        "DATA_BATCH_NAME": "batch",
        "OUTPUT_FOLDER": os.path.join(run_dir, "out"),
        "ID_VALIDATION_RESULT_FOLDER": os.path.join(run_dir, "validation"),
        "RATIO_LIMIT": 0.75,
        "NODE_ID_FIELD": {
            "study": "phs_accession",
            "participant": "participant_id",
            "sample": "sample_id",
            "file": "file_id",
            "genomic_info": "library_id",
        },
        "PARENT_MAPPING_COLUMNS": [
            {"node": "participant", "parent_node": "study", "property": "phs_accession", "relationship": "of_study"},
            {"node": "sample", "parent_node": "participant", "property": "participant_id", "relationship": "of_participant"},
            {"node": "file", "parent_node": "sample", "property": "sample_id", "relationship": "from_sample"},
            {"node": "genomic_info", "parent_node": "file", "property": "file_id", "relationship": "of_file"},
        ],
        "COMBINE_NODE": [{"node": "study", "id_column": "phs_accession"}],
        "COMBINE_COLUMN": [
            {"node": "sample", "column1": "sample_id", "column2": "sample_type",
             "new_column": "sample_id", "external_node": False},
        ],
        "SECONDARY_ID_COLUMN": [
            {"node": "genomic_info", "node_id": "library_id", "secondary_id": "file.file_id"},
        ],
        "REMOVE_NODES": ["treatment"],
        "HISTORICAL_PROPERTIES": [
            {"node": "study", "property": "study_version",
             "historical_property_file": os.path.join(run_dir, "history_state")},
        ],
    }
    path = os.path.join(run_dir, "config.yaml")
    os.makedirs(run_dir, exist_ok=True)
    with open(path, "w") as fh:
        yaml.safe_dump(config, fh)
    return path


def count_outputs(run_dir: str) -> dict[str, dict[str, int]]:
    """Data rows per written TSV, keyed by prefix then node or report
    (``ID`` for ``ID_validation_result``, ...). Every TSV counts, so an
    unexpected output fails the comparison with ``expected``."""
    got: dict[str, dict[str, int]] = {}
    for sub in ("out", "validation"):
        d = os.path.join(run_dir, sub, "batch")
        for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            if not name.endswith(".tsv"):
                continue
            prefix, _, rest = name[:-4].partition("-")
            kind = rest.split("_")[0] if sub == "validation" else rest
            with open(os.path.join(d, name), newline="") as f:
                got.setdefault(prefix, {})[kind] = sum(1 for _ in f) - 1
    return got
