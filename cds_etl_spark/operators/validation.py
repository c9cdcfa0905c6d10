"""Validation suite: duplicate/conflict IDs, orphans, cascade delete,
PII scan, UI completeness (O22-O27).

Reference: `id_validation` (cds_transformation_functions.py:209-281),
`delete_children` (:178-195), `ssn_validation` (:284-299),
`ui_validation` (:303-344). Everything here is formulated as LAZY
DataFrame algebra — bad-id sets are DataFrames flowing into broadcast
anti-joins, never collected lists, so the same code path works when a
node table is 10^9 rows and the bad set is 10^6.

Deliberate deviations from reference *implementation* (same intended
semantics, documented for the parity check):
  * The reference's `mul` flag (:214) is initialized once OUTSIDE the
    node loop, so a many_to_many edge seen on an earlier node leaks
    the exemption to later nodes — a bug. Here the exemption applies
    iff one of THIS node's own parent edges is many_to_many (:226,
    :264 intent).
  * `delete_children` recurses once per grandchild edge with identical
    arguments (:185-191); the recursion is idempotent, so we recurse
    once per child.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.operators.pin import cut_lineage

from cds_etl_spark.model import Model

NodeTables = dict[str, DataFrame]

ID_REPORT_COLS = ["node name", "ID", "conflict property"]
PARENT_REPORT_COLS = ["node name", "ID", "parent ID field"]
SSN_REPORT_COLS = ["Raw_Data_File", "File_Name", "Suspicious_SSN"]
UI_REPORT_COLS = ["Missing_Properties", "UI_Related", "Raw_Data_File"]

SSN_PATTERNS = (r"\d{3}-\d{2}-\d{4}", r"\d{3}_\d{2}_\d{4}", r"(?<=\D)\d{9}(?=\D)")
NOT_SPECIFIED = "Not specified in data"
UI_NO_FILL_PROPS = {"experimental_strategy_and_data_subtypes"}


def _bt(c: str) -> F.Column:
    return F.col(f"`{c}`")


def _materialize(df: DataFrame) -> DataFrame:
    """Truncate lineage at a validation stage boundary.

    The cascade recursion re-derives node tables from one another; left
    lazy, each table's logical plan would embed every upstream table's
    plan several times over (exponential in DAG depth — analysis alone
    stalls). `localCheckpoint` pins the stage result on the executors
    and gives downstream stages a flat scan — the standard Spark
    treatment for iterative/fixpoint algorithms; one distributed pass
    per stage, mirroring the eager semantics the reference's pandas
    pipeline has implicitly."""
    return cut_lineage(df)  # pin: iterative (cascade recursion frame)


def _fk_cols(node: str, parent_mapping: list[dict], columns: list[str]) -> list[str]:
    out = []
    for rule in parent_mapping:
        if rule["node"] == node:
            fk = f"{rule['parent_node']}.{rule['property']}"
            if fk in columns:
                out.append(fk)
    return out


def cascade_delete(
    tables: NodeTables,
    parent_mapping: list[dict],
    node_id_field: dict[str, str],
    bad_ids: DataFrame,
    parent_node: str,
) -> NodeTables:
    """Recursive referential cascade (reference `delete_children`,
    :178-195): null out child FKs referencing a deleted parent id,
    recursively delete children left with ALL parent-FKs null, then
    drop those children. The relationship DAG is statically ≤5 deep
    (program→study→participant→sample→file→genomic_info), so this is
    a bounded loop of broadcast anti-join stages — one shuffle-free
    pass per DAG level, not a row-at-a-time recursion."""
    tables = dict(tables)
    # `bad_ids` is already cut by the caller (id_validation's verdict)
    # or a filter over an already-cut child table (the recursion).
    # bcast: BOUNDED validation failure-id list; reference ETL tables are catalog-scale
    bad = F.broadcast(bad_ids.select(F.col(bad_ids.columns[0]).alias("_bad_id")).distinct())
    for rule in parent_mapping:
        if rule["parent_node"] != parent_node:
            continue
        child = rule["node"]
        if child not in tables:
            continue
        cdf = tables[child]
        fk = f"{rule['parent_node']}.{rule['property']}"
        if fk not in cdf.columns:
            continue
        # Null-out FK hits (:184) via broadcast lookup.
        cdf = _materialize(
            cdf.join(bad, _bt(fk) == F.col("_bad_id"), "left")
            .withColumn(fk, F.when(F.col("_bad_id").isNotNull(), None).otherwise(_bt(fk)))
            .drop("_bad_id")
        )
        parent_list = _fk_cols(child, parent_mapping, cdf.columns)
        all_null = reduce(lambda a, b: a & b, [_bt(c).isNull() for c in parent_list])
        tables[child] = cdf
        # Grandchildren first (:185-191), from the nulled-out state.
        if any(r["parent_node"] == child for r in parent_mapping) and child in node_id_field:
            child_bad = cdf.filter(all_null).select(_bt(node_id_field[child])).distinct()
            tables = cascade_delete(tables, parent_mapping, node_id_field, child_bad, child)
            cdf = tables[child]
        # Drop children with every FK null (:193).
        tables[child] = cdf.filter(~all_null)
    return tables


def _distinct_incl_null(col: str) -> F.Column:
    """Distinct value count where all NULLs collapse to one value —
    pandas `set(list(...))` semantics at :259."""
    return F.countDistinct(_bt(col)) + F.max(F.when(_bt(col).isNull(), 1).otherwise(0))


def id_validation(
    tables: NodeTables,
    node_id_field: dict[str, str],
    parent_mapping: list[dict],
    model: Model,
    raw_data_name: str = "",
) -> tuple[NodeTables, DataFrame, DataFrame]:
    """Duplicate-ID/conflict detection + orphan detection + cascades
    (reference `id_validation`, :209-281).

    Per node, after the full-row dedup (:218-219), ONE `groupBy(id)`
    aggregate gives every id its verdict:
      * `_orphan` — AND over parent FKs of `max(fk IS NULL)`: the
        reference's id-level intersection (:222-246);
      * `_dup` — `count > 1`;
      * `_conf` — the data columns with more than one distinct value,
        NULLs counting as one value (:259);
      * `_bad` — `_dup AND NOT _orphan AND NOT` the many_to_many
        exemption (:247-277).
    The `_orphan OR _bad` rows are cut once; if any exist, one anti-join
    and one `cascade_delete` remove them. Both reports filter the verdict.

    This equals the reference's two passes (orphans, then duplicates
    among the rest): orphan removal is by id and touches only this
    node's orphan ids, so every other id's conflict diagnosis sees the
    same rows; and FK nulling is monotone, so one cascade over
    orphan ∪ bad drops what two cascades in a row drop. An id that is
    both an orphan and a conflicting duplicate is an orphan only.

    Returns (cleaned tables, id_report, parent_report); reports match
    the reference's TSV schemas (:210-211) with the conflict-column
    list rendered as its Python repr."""
    tables = dict(tables)
    spark = next(iter(tables.values())).sparkSession if tables else None
    id_reports: list[DataFrame] = []
    parent_reports: list[DataFrame] = []

    for node in list(tables.keys()):
        if node not in node_id_field:
            continue
        id_col = node_id_field[node]
        df = tables[node]
        if id_col not in df.columns:
            continue
        # :218-219 — full-row dedup, then require an id.
        df = _materialize(df.dropDuplicates().filter(_bt(id_col).isNotNull()))
        tables[node] = df

        fk_cols = _fk_cols(node, parent_mapping, df.columns)
        node_muls = {
            model.mul_of(rule.get("relationship", ""))
            for rule in parent_mapping
            if rule["node"] == node
        }
        has_m2m = "many_to_many" in node_muls

        conf = F.filter(
            F.array(
                *[F.when(_distinct_incl_null(c) > 1, F.lit(c)) for c in df.columns if c != id_col]
            ),
            lambda x: x.isNotNull(),
        )
        orphan = (
            reduce(lambda a, b: a & b, [F.max(_bt(fk).isNull()) for fk in fk_cols])
            if fk_cols
            else F.lit(False)
        )
        verdict = df.groupBy(_bt(id_col).alias("_vid")).agg(
            (F.count(F.lit(1)) > 1).alias("_dup"), conf.alias("_conf"), orphan.alias("_orphan")
        )
        # many_to_many exemption (:264): sole conflict is a parent FK
        # column (not one of the node's own model properties).
        own_props = list(model.nodes.get(node, []))
        exempt = (
            (F.size(F.col("_conf")) == 1)
            & ~F.element_at(F.col("_conf"), 1).isin(own_props)
            if has_m2m
            else F.lit(False)
        )
        bad = F.col("_dup") & ~F.col("_orphan") & ~exempt
        verdict = _materialize(verdict.withColumn("_bad", bad).filter("_orphan OR _bad"))
        # The reference cascades only for a NON-empty delete list
        # (:244, :271); an unconditional call would still drop
        # all-null-FK descendants (delete_children's dropna :193).
        if not verdict.isEmpty():
            df = _materialize(
                df.join(
                    # bcast: BOUNDED orphan/duplicate-id failure list; reference ETL tables are catalog-scale
                    F.broadcast(verdict.select("_vid")), _bt(id_col) == F.col("_vid"), "left_anti"
                )
            )
            tables[node] = df
            tables = cascade_delete(
                tables, parent_mapping, node_id_field, verdict.select("_vid"), node
            )
        if fk_cols:
            parent_reports.append(
                verdict.filter("_orphan").select(
                    F.lit(node).alias("node name"),
                    F.col("_vid").cast("string").alias("ID"),
                    F.lit(fk_cols[-1]).alias("parent ID field"),
                )
            )
        # Rows that differ after the full-row dedup differ in some
        # column, so a duplicate's conflict list is never empty.
        id_reports.append(
            verdict.filter("_bad").select(
                F.lit(node).alias("node name"),
                F.col("_vid").cast("string").alias("ID"),
                F.concat(F.lit("['"), F.array_join("_conf", "', '"), F.lit("']")).alias(
                    "conflict property"
                ),
            )
        )

    empty_id = spark.createDataFrame([], "`node name` string, ID string, `conflict property` string")
    empty_parent = spark.createDataFrame([], "`node name` string, ID string, `parent ID field` string")
    id_report = reduce(DataFrame.unionByName, id_reports, empty_id)
    parent_report = reduce(DataFrame.unionByName, parent_reports, empty_parent)
    return tables, id_report, parent_report


def ssn_validation(
    tables: NodeTables,
    raw_data_name: str,
    node: str = "file",
    column: str = "file_name",
) -> DataFrame:
    """PII/SSN filename scan (reference `ssn_validation`, :284-299):
    one report row per (row, pattern) with matches, `Suspicious_SSN`
    rendered like Python's str(list)."""
    df = tables[node]
    reports = []
    for pattern in SSN_PATTERNS:
        matches = F.regexp_extract_all(_bt(column), F.lit(pattern), 0)
        reports.append(
            df.select(
                F.lit(raw_data_name).alias("Raw_Data_File"),
                _bt(column).alias("File_Name"),
                matches.alias("_m"),
            )
            .filter(F.size(F.col("_m")) > 0)
            .select(
                "Raw_Data_File",
                "File_Name",
                F.concat(
                    F.lit("['"),
                    F.array_join(F.col("_m"), "', '"),
                    F.lit("']"),
                ).alias("Suspicious_SSN"),
            )
        )
    return reduce(DataFrame.unionByName, reports)


def ui_validation(
    tables: NodeTables,
    ui_mapping: dict[str, list[str]],
    raw_data_name: str,
) -> tuple[NodeTables, DataFrame]:
    """UI-completeness check + default fill (reference `ui_validation`,
    :303-344): a UI-required property missing from a node grows a
    column of 'Not specified in data' (and is reported); partial nulls
    are filled the same. `ui_mapping` is {node: [property, ...]}
    (derived from the UI-mapping workbook's Mapping sheet, '-' and
    null entries already excluded)."""
    tables = dict(tables)
    spark = next(iter(tables.values())).sparkSession
    report_rows = []
    for node, df in tables.items():
        props = [p for p in ui_mapping.get(node, [])]
        if not props:
            continue
        for prop in props:
            if prop not in df.columns:
                if prop not in UI_NO_FILL_PROPS:
                    df = df.withColumn(prop, F.lit(NOT_SPECIFIED))
                report_rows.append((f"{node}.{prop}", True, raw_data_name))
            elif prop not in UI_NO_FILL_PROPS:
                df = df.withColumn(prop, F.coalesce(_bt(prop), F.lit(NOT_SPECIFIED)))
        tables[node] = df
    report = spark.createDataFrame(
        report_rows, "Missing_Properties string, UI_Related boolean, Raw_Data_File string"
    )
    return tables, report


def schema_drift_report(
    expected: "StructType", observed: "StructType"
) -> "DataFrame | list[dict]":
    """Compare an arriving batch's schema against the registered
    contract — the ingest-governance gate that catches an upstream
    change BEFORE it corrupts a 100 TB table: silently-added columns
    (dropped by projection today, someone's data tomorrow), removed
    columns (NULL floods), type changes (parquet scan errors or
    lossy coercions), and nullability loosening (constraint
    violations downstream).

    Pure metadata — no Spark job, no data touched. Returns a list of
    finding dicts {column, kind, expected, observed, breaking}:
    ``removed``/``type_changed`` and nullable-tightening are
    BREAKING (readers malfunction), ``added`` and
    nullable-loosening are non-breaking (writers grew). Empty list =
    schemas agree. The generalization of the reference's fixed-sheet
    column validation (cds-transformation_v1.3.py's
    missing-property reporting) to arbitrary schema pairs."""
    exp = {f.name: f for f in expected.fields}
    obs = {f.name: f for f in observed.fields}
    findings: list[dict] = []
    for name, f in exp.items():
        if name not in obs:
            findings.append(
                {
                    "column": name,
                    "kind": "removed",
                    "expected": f.dataType.simpleString(),
                    "observed": None,
                    "breaking": True,
                }
            )
            continue
        o = obs[name]
        if f.dataType != o.dataType:
            findings.append(
                {
                    "column": name,
                    "kind": "type_changed",
                    "expected": f.dataType.simpleString(),
                    "observed": o.dataType.simpleString(),
                    "breaking": True,
                }
            )
        if f.nullable != o.nullable:
            findings.append(
                {
                    "column": name,
                    "kind": "nullability_changed",
                    "expected": f"nullable={f.nullable}",
                    "observed": f"nullable={o.nullable}",
                    # Loosening (required -> nullable) breaks readers
                    # that rely on the constraint; tightening is safe.
                    "breaking": (not f.nullable) and o.nullable,
                }
            )
    for name, o in obs.items():
        if name not in exp:
            findings.append(
                {
                    "column": name,
                    "kind": "added",
                    "expected": None,
                    "observed": o.dataType.simpleString(),
                    "breaking": False,
                }
            )
    return findings
