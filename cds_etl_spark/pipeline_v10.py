"""The v1.0 two-workbook CDS transformation (the reference's first
generation, `1-Transformation-Scripts/cds-transformation.py`), composed
from the same operator set as the v1.2/v1.3 pipelines.

The v1.0 reference reads TWO workbooks — DATA_FILE1 with the CDS
Manifest / CGC CDS Explorer / SRA Run Selector sheets, DATA_FILE2 with
Participant / Sample / File / Genomic Info plus a HEADERLESS two-column
Study sheet — and for every model node:

* ``extract_data`` (:11-28): substring-matches each node property
  against every sheet's normalized column names (spaces→underscores,
  lowercase; match if either contains the other), with the LAST match
  in sheet order winning the values while the FIRST matching sheet pins
  the node's row count (pandas column assignment aligns to the frame's
  existing index); then joins on the first already-present property or
  horizontally concats;
* the vertical Study sheet is transposed to one wide row, empty values
  dropped, and replicated to manifest length (:114-120 — O16
  ``pivot_key_value`` + O15 ``replicate_to``);
* ``remove_node`` (:60-68) empties diagnosis and participant, after
  which participant is re-extracted from the Participant sheet alone
  (:131-133);
* ``add_properties`` (:31-57) attaches a hard-coded property table
  (acl / file_id / sample.sample_id from the manifest, sample keys
  from the explorer, study keys from the Study row) — joining on an
  already-present property (+ dedup) or concatenating after truncating
  to the node's length;
* the study node drops two upload-bookkeeping columns and
  deduplicates before the TSV sink (:141-142), and outputs are named
  ``<node>.tsv`` with no prefix (:70-74).

Engine re-expression notes (semantics preserved, physics changed):

* pandas' positional index becomes an explicit per-sheet ``_pos``
  column (row_number over the ingest ``_row_id`` order). Cross-sheet
  positional alignment is then an equi-join on ``_pos`` — left join
  from the base frame for column assignment (truncates longer sheets,
  null-fills shorter, exactly pandas' index alignment), full outer for
  ``pd.concat(axis=1)`` (index union). Like ``zip_frames`` (reshape
  module docstring), positional semantics are a documented
  workbook-scale compat path — the row_number window is one task by
  design, which is exactly what a <1M-row xlsx ingest needs and what
  positional semantics can ever mean.
* The Study transpose is ``pivot_key_value`` (a distributed pivot)
  and the manifest-length replication a broadcast crossJoin.
* ``add_properties``' join-branch ``drop_duplicates`` dedups over the
  data columns (the pandas index is not part of its dedup key either).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_etl_spark.model import Model
from cds_etl_spark.operators import normalize_strings, with_row_id
from cds_etl_spark.operators.projection import ROW_ID
from cds_etl_spark.operators.reshape import pivot_key_value, replicate_to

NodeTables = dict[str, DataFrame]

POS = "_pos"
INTERNAL = (ROW_ID, POS)

#: DATA_FILE1 sheets (cds-transformation.py:80-91).
FILE1_SHEETS = ["CDS Manifest", "CGC CDS Explorer", "SRA Run Selector"]
#: DATA_FILE2 sheets with headers (:92-107); Study is headerless (:108).
FILE2_SHEETS = ["Participant", "Sample", "File", "Genomic Info"]
STUDY_SHEET = "Study"

#: extract_data's df_list order (:128). "__study__" is the transposed,
#: manifest-replicated Study frame.
DF_LIST_ORDER = [
    "File",
    "Genomic Info",
    "CDS Manifest",
    "CGC CDS Explorer",
    "SRA Run Selector",
    "__study__",
    "Sample",
]

#: remove_node's table (:61-64).
REMOVED_NODES = ("diagnosis", "participant")

#: add_properties' hard-coded table (:32-43):
#: (node, new_property, source_column, source_frame).
ADD_PROPS = [
    ("file", "acl", "acl", "CDS Manifest"),
    ("file", "file_id", "GUID", "CDS Manifest"),
    ("file", "sample.sample_id", "sample_id", "CDS Manifest"),
    ("genomic_info", "library_id", "library_id", "CDS Manifest"),
    ("genomic_info", "file.file_id", "GUID", "CDS Manifest"),
    ("sample", "sample_id", "Sample ID", "CGC CDS Explorer"),
    ("sample", "participant.participant_id", "Participant ID", "CGC CDS Explorer"),
    ("participant", "study.phs_accession", "phs_accession", "__study__"),
    ("study", "data_access_level", "acl", "__study__"),
]

#: add_properties call order per node (:134-136).
ADD_PROP_FRAMES = ["CDS Manifest", "CGC CDS Explorer", "__study__"]

#: the study-node "improve" step (:141).
STUDY_DROP_COLS = ("size_of_data_being_uploaded", "study_external_url")


def read_study_kv(spark: SparkSession, workbook: str) -> DataFrame | None:
    """The headerless two-column Study sheet (:108-112) as (key, value)
    rows. xlsx reads through openpyxl; a ``*.book`` directory reads the
    per-sheet file with header=False."""
    if workbook.endswith(".xlsx"):
        try:
            import openpyxl
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError(
                "Excel ingestion requires openpyxl (driver-side edge "
                "adapter); use a .book directory for the no-xlsx path"
            ) from e
        wb = openpyxl.load_workbook(workbook, read_only=True, data_only=True)
        if STUDY_SHEET not in wb.sheetnames:
            wb.close()
            return None
        rows = [
            ("" if r[0] is None else str(r[0]), "" if len(r) < 2 or r[1] is None else str(r[1]))
            for r in wb[STUDY_SHEET].iter_rows(values_only=True)
        ]
        wb.close()
        return spark.createDataFrame(rows, schema=["key", "value"])
    for sfx, sep in ((".tsv", "\t"), (".csv", ",")):
        p = os.path.join(workbook, f"{STUDY_SHEET}{sfx}")
        if os.path.exists(p):
            return (
                spark.read.option("header", False).option("sep", sep).csv(p)
                .toDF("key", "value")
            )
    p = os.path.join(workbook, f"{STUDY_SHEET}.parquet")
    if os.path.exists(p):
        df = spark.read.parquet(p)
        return df.toDF(*["key", "value"][: len(df.columns)])
    return None


def _norm(col: str) -> str:
    return col.replace(" ", "_").lower()


def _data_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in INTERNAL]


@dataclass
class CdsPipelineV10:
    """Two-workbook v1.0 pipeline. ``run`` takes the named sheet frames
    as read (raw headers) plus the headerless Study (key, value) frame;
    config keys mirror the reference's v1.0 YAML (DATA_FILE1,
    DATA_FILE2, NODE_FILE, OUTPUT_FOLDER)."""

    model: Model
    config: dict[str, Any]
    _cached: list[DataFrame] = field(default_factory=list, repr=False)

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    # -- ingest ---------------------------------------------------------

    def _prep(self, df: DataFrame) -> DataFrame:
        """O3/O4 normalize + row identity + positional index, cached
        (the _pos window and the repeated per-node matching sweeps
        must see one stable ingest order)."""
        out = with_row_id(normalize_strings(df)).withColumn(
            # window: GRID positional index of one workbook sheet (xlsx caps a sheet at 1,048,576 rows; module docstring)
            POS, F.row_number().over(Window.orderBy(ROW_ID))
        ).cache()
        self._cached.append(out)
        return out

    def _study_frame(
        self, study_kv: DataFrame | None, manifest: DataFrame | None
    ) -> DataFrame | None:
        """Transpose the vertical Study sheet to one wide row, drop
        empty-valued keys (:118-119), replicate to manifest length
        (:120) carrying the manifest's positional index."""
        if study_kv is None or manifest is None:
            return None
        kv = normalize_strings(study_kv).filter(F.col("key").isNotNull())
        wide = pivot_key_value(kv, "key", "value")
        row = wide.first()
        if row is None:
            return None
        keep = [c for c in wide.columns if row[c] is not None]
        if not keep:
            return None
        single = wide.select(*[F.col(f"`{c}`") for c in keep])
        return replicate_to(single, manifest.select(ROW_ID, POS))

    # -- extract_data (:11-28) -------------------------------------------

    def _winners(
        self, frames: list[tuple[str, DataFrame]], props: list[str]
    ) -> tuple[str | None, dict[str, tuple[str, str]]]:
        """Sheet-major substring matching. Returns the base frame (the
        FIRST matching sheet — pandas' first assignment pins the
        index/length) and, per property in first-match order, the LAST
        matching (sheet, column) — later assignments overwrite values.
        Driver-side metadata op (column names only)."""
        base: str | None = None
        win: dict[str, tuple[str, str]] = {}
        for name, df in frames:
            for prop in props:
                for col in _data_cols(df):
                    n = _norm(col)
                    if n in prop or prop in n:
                        if base is None:
                            base = name
                        win[prop] = (name, col)  # first insert pins order
        return base, win

    def _extract(
        self,
        df: DataFrame | None,
        frames: list[tuple[str, DataFrame]],
        node: str,
    ) -> DataFrame | None:
        by_name = dict(frames)
        base, win = self._winners(frames, self.model.nodes[node])
        if base is None:
            # No matching columns anywhere: the reference concats an
            # empty frame and stamps type — a no-op for our purposes.
            return df
        new_df = by_name[base].select(POS)
        for prop, (sheet, col) in win.items():
            new_df = new_df.join(
                by_name[sheet].select(POS, F.col(f"`{col}`").alias(prop)),
                POS,
                "left",  # pandas assignment: align to the base index
            )
        if df is not None and _data_cols(df):
            for prop in win:  # new_df column order
                if prop in df.columns:
                    # :21-25 join on the first shared property; the
                    # right side contributes its remaining columns.
                    right = new_df.drop(POS).drop(
                        *[c for c in win if c != prop and c in df.columns]
                    )
                    return df.join(right, prop, "left").withColumn(
                        "type", F.lit(node)
                    )
            # :26-28 pd.concat(axis=1): index union.
            dup = [c for c in new_df.columns if c in df.columns and c != POS]
            df = df.join(new_df.drop(*dup), POS, "full_outer")
        else:
            df = new_df
        return df.withColumn("type", F.lit(node))

    # -- add_properties (:31-57) -------------------------------------------

    def _add_properties(
        self, node: str, df: DataFrame, frame_name: str, by_name: dict[str, DataFrame]
    ) -> DataFrame:
        src = by_name.get(frame_name)
        specs = [
            (new_prop, col)
            for (n, new_prop, col, fname) in ADD_PROPS
            if n == node and fname == frame_name
        ]
        if src is None or not specs:
            return df
        specs = [(p, c) for p, c in specs if c in src.columns]
        if not specs:
            return df
        new_df = src.select(
            POS, *[F.col(f"`{c}`").alias(p) for p, c in specs]
        )
        for prop, _ in specs:
            if prop in df.columns:
                # :49-53 join on the shared property + drop_duplicates
                # (over data columns, as pandas ignores the index).
                right = new_df.drop(POS).drop(
                    *[c for c, _ in specs if c != prop and c in df.columns]
                )
                joined = df.join(right, prop, "left")
                # pandas drop_duplicates keeps the FIRST occurrence
                # (lowest original index); dropDuplicates keeps an
                # arbitrary survivor, which makes a later positional
                # concat nondeterministic across runs when full data-
                # duplicate rows exist. Keep min(_pos)/min(ROW_ID) per
                # data-column group to mirror keep='first'.
                dcols = _data_cols(joined)
                keys = [c for c in INTERNAL if c in joined.columns]
                if not keys:
                    return joined.dropDuplicates(dcols)
                # backtick-quote: sheet headers can contain dots
                # (e.g. `file.file_id`), which bare strings would
                # parse as struct access.
                w = Window.partitionBy(
                    *[F.col(f"`{c}`") for c in dcols]
                ).orderBy(*[F.col(f"`{c}`") for c in keys])
                return (
                    joined.withColumn(
                        "_rn10", F.row_number().over(w)
                    )
                    .filter(F.col("_rn10") == 1)
                    .drop("_rn10")
                )
        # :54-56 truncate to the node's length, then concat.
        n_rows = df.count()
        new_df = new_df.filter(F.col(POS) <= n_rows)
        dup = [c for c in new_df.columns if c in df.columns and c != POS]
        return df.join(new_df.drop(*dup), POS, "left")

    # -- the node loop (:124-144) -------------------------------------------

    def run(
        self, sheets: dict[str, DataFrame], study_kv: DataFrame | None
    ) -> NodeTables:
        src = {name: self._prep(df) for name, df in sheets.items()}
        study = self._study_frame(study_kv, src.get("CDS Manifest"))
        if study is not None:
            study = study.cache()
            self._cached.append(study)
            src["__study__"] = study

        df_list = [(n, src[n]) for n in DF_LIST_ORDER if n in src]
        participant_only = (
            [("Participant", src["Participant"])] if "Participant" in src else []
        )

        tables: NodeTables = {}
        for node in self.model.nodes:
            df = self._extract(None, df_list, node)
            if node in REMOVED_NODES:  # :131
                df = None
            df = self._extract(df, participant_only, node)  # :133
            if df is None:
                continue
            for fname in ADD_PROP_FRAMES:  # :134-136
                df = self._add_properties(node, df, fname, src)
            if not df.isEmpty():  # :138-139 len(df) > 0
                tables[node] = df

        # :141-142 the study "improve" step.
        if "study" in tables:
            study_df = tables["study"].drop(
                *[c for c in STUDY_DROP_COLS if c in tables["study"].columns]
            )
            study_df = study_df.drop(*INTERNAL).dropDuplicates()
            tables["study"] = study_df

        return {
            node: df.drop(*[c for c in INTERNAL if c in df.columns])
            for node, df in tables.items()
        }
