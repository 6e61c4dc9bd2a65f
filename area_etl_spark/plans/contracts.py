"""Target schema contracts — the reference's DDL layer, engine-side.

Parity: the reference ships 1.5k LoC of Postgres DDL (``sql/init_*.sql``)
whose work at load time is typing, NOT NULL enforcement, and defaults.  A
lake has no database to reject rows, so the contract moves into the engine:
``apply_contract`` shapes a frame to the declared schema (declared column
order, ``try_cast`` typing, defaults for nulls), and the checks run inside
the load, as Postgres runs them inside the COPY.

``enforce_contract`` is the runner's gate.  It adds the checks to the frame
the sink writes: NOT NULL rules are counting aggregates of a
``DataFrame.observe`` (no extra stage), and PK uniqueness is a
``row_number`` over the key, counted the same way (one shuffle of the
output on the key).  The write job fills the counts; the sink publishes
the written files only if every count is 0 (``sources/load.py``,
``before_publish``).  The pipeline is evaluated once.

``contract_violations`` is the same rules as a stand-alone query, one row
per rule, for reporting on a frame without writing it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


@dataclass
class ColumnContract:
    name: str
    dtype: str
    nullable: bool = True
    default: object | None = None


@dataclass
class TableContract:
    """Declarative target-table schema (mirrors one CREATE TABLE)."""

    table: str
    columns: list[ColumnContract]
    primary_key: list[str] = field(default_factory=list)


# Example contract mirroring the reference's resolutions target shape
# (sql/init_core.sql: TEXT/NOT NULL/defaults idiom).
RESOLUTIONS_CONTRACT = TableContract(
    table="resolutions",
    columns=[
        ColumnContract("id", "bigint", nullable=False),
        ColumnContract("title", "string", nullable=False, default="(untitled)"),
        ColumnContract("source", "string", nullable=False, default="unknown"),
        ColumnContract("file_id", "string"),
    ],
    primary_key=["id"],
)


def apply_contract(df: DataFrame, contract: TableContract) -> DataFrame:
    """Shape ``df`` to the contract: declared order, typed, defaults filled.

    ``try_cast`` nulls un-castable values (then a non-null default revives
    them; a nullable column keeps the null) — violations surface in
    ``contract_violations`` rather than killing the job mid-write.
    """
    cols = []
    for c in contract.columns:
        expr = F.col(c.name).try_cast(c.dtype)
        if c.default is not None:
            expr = F.coalesce(expr, F.lit(c.default).try_cast(c.dtype))
        cols.append(expr.alias(c.name))
    return df.select(*cols)


def _not_null_counts(contract: TableContract) -> list[Column]:
    """One aggregate per NOT NULL column, aliased with its rule name."""
    return [
        F.count(F.when(F.col(c.name).isNull(), 1)).alias(f"not_null:{c.name}")
        for c in contract.columns
        if not c.nullable
    ]


def _pk_rule(contract: TableContract) -> str:
    return "unique_pk:" + ",".join(contract.primary_key)


def _pk_present(contract: TableContract) -> Column:
    """Every key column is non-null.  Duplicates count among such rows only;
    a null key is already counted by its not_null rule."""
    present = F.lit(True)
    for k in contract.primary_key:
        present = present & F.col(k).isNotNull()
    return present


def contract_violations(df: DataFrame, contract: TableContract) -> DataFrame:
    """One row per rule: (rule, n_bad) — required-null and pk-dup counts.

    Run on the OUTPUT of ``apply_contract``; a clean load has every
    ``n_bad`` = 0.
    """
    aggs = _not_null_counts(contract)
    if contract.primary_key:
        pk = [F.col(k) for k in contract.primary_key]
        aggs.append(
            (F.count(F.when(_pk_present(contract), 1)) - F.countDistinct(*pk)).alias(_pk_rule(contract))
        )
    row = df.agg(*aggs)
    structs = [
        F.struct(F.lit(rule).alias("rule"), F.col(f"`{rule}`").cast("long").alias("n_bad"))
        for rule in row.columns
    ]
    return row.select(F.explode(F.array(*structs)).alias("v")).select("v.*")


def quarantine_rows(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Bad-row quarantine: rows violating ANY rule, tagged with the sorted
    comma-joined names of every rule they break.

    ``rules`` maps rule name → a Column predicate that GOOD rows satisfy.
    The complement (``df`` minus these rows) is the clean feed; routing both
    from one scan is a narrow filter each — quarantining never blocks the
    pipeline the way a failing strict cast does (the reference's Polars
    casts abort the whole single-node run; at 100 TB one malformed row must
    not kill the job — it gets shipped to the quarantine sink with its
    reasons instead).
    """
    # NULL-safe: a rule that cannot be evaluated (NULL input → NULL predicate)
    # is a violation, not a pass — NULLs are the canonical bad row the
    # reference's strict casts abort on.  coalesce(cond, false) forces the
    # three-valued ~cond out of NULL so array_compact can't silently drop it.
    tags = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in sorted(rules.items())
    ]
    reasons = F.array_compact(F.array(*tags))
    return (
        df.withColumn("quarantine_reasons", F.array_join(reasons, ","))
        .where(F.col("quarantine_reasons") != "")
    )


def _cc(name: str, dtype: str, nullable: bool = True, default=None) -> ColumnContract:
    return ColumnContract(name, dtype, nullable=nullable, default=default)


def _audit_cols(disabled: bool = True) -> list[ColumnContract]:
    """The reference DDL's universal audit tail: created_at/updated_at
    NOT NULL DEFAULT now(), disabled_at nullable (every init_*.sql table)."""
    cols = [
        _cc("created_at", "timestamp", nullable=False),
        _cc("updated_at", "timestamp", nullable=False),
    ]
    if disabled:
        cols.append(_cc("disabled_at", "timestamp"))
    return cols


# One TableContract per runner pipeline output, keyed "module.name" (the
# runner's spec address).  Typing/NOT NULL/PK mirror the reference DDL for
# the corresponding target table (sql/init_core.sql, init_auac.sql,
# init_cronos.sql, init_poa.sql), restricted to the columns the recasts
# carry; enum-mapped columns with a mapping default are NOT NULL exactly
# where the reference declares them so (e.g. companies.legal_form NOT NULL
# vs business_form nullable, init_core.sql:22-47).
PIPELINE_CONTRACTS: dict[str, TableContract] = {
    "core.resolutions": TableContract(
        "resolutions",
        [
            _cc("id", "bigint", nullable=False),
            _cc("title", "string", nullable=False, default="(untitled)"),
            _cc("source", "string", nullable=False, default="unknown"),
            _cc("file_id", "string"),
        ],
        primary_key=["id"],
    ),
    "core.specialties": TableContract(
        "specialties",
        [
            _cc("id", "bigint", nullable=False),
            _cc("name", "string", nullable=False),
            _cc("brand", "string"),
            _cc("parent_id", "string"),
            _cc("n_children", "bigint", nullable=False, default=0),
            _cc("material_class", "string"),
        ],
        primary_key=["id"],
    ),
    "core.companies": TableContract(
        "companies",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string"),
            _cc("code", "string", nullable=False),
            _cc("business_name", "string", nullable=False),
            _cc("business_form", "string"),
            _cc("legal_form", "string", nullable=False),
            _cc("nature", "string", nullable=False),
            _cc("tax_code", "string"),
            _cc("municipality_id", "bigint"),
        ]
        + _audit_cols(),
        primary_key=["id"],
    ),
    "core.physical_structures": TableContract(
        "physical_structures",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string"),
            _cc("code", "string"),
            _cc("secondary_code", "string"),
            _cc("district_id", "string"),
            _cc("company_id", "string", nullable=False),
        ]
        + _audit_cols(),
        primary_key=["id"],
    ),
    "core.operational_offices": TableContract(
        "operational_offices",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string", nullable=False),
            _cc("physical_structure_id", "string"),
            _cc("street_name", "string"),
            _cc("street_number", "string"),
            _cc("zip_code", "string"),
            _cc("is_main_address", "boolean", nullable=False, default=False),
            _cc("physical_point_type", "string"),
            _cc("lat", "double"),
            _cc("lon", "double"),
            _cc("toponym_id", "string"),
            _cc("municipality_id", "bigint"),
        ]
        + _audit_cols(),
        primary_key=["id"],
    ),
    "core.buildings": TableContract(
        "buildings",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string"),
            _cc("code", "string"),
            _cc("physical_structure_id", "string"),
            _cc("owner_business_name", "string"),
            _cc("is_own_property", "boolean", nullable=False, default=False),
        ]
        + _audit_cols()
        + [_cc("extra", "string", nullable=False, default="{}")],
        primary_key=["id"],
    ),
    # no primary_key: the synthetic lineitem fact carries duplicate
    # (orderkey, linenumber) business keys, so row-id uniqueness is a
    # property of the reference's CLIENTID source, not derivable here
    "core.production_factors": TableContract(
        "production_factors",
        [
            _cc("id", "string", nullable=False),
            _cc("production_factor_type_id", "string", nullable=False),
            _cc("num_beds", "int"),
            _cc("num_hospital_beds", "int"),
            _cc("room_name", "string"),
            _cc("room_code", "string"),
        ]
        + _audit_cols(),
    ),
    "core.udo_types": TableContract(
        "udo_types",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string", nullable=False),
            _cc("code", "string"),
            _cc("code_name", "string"),
            _cc("setting", "string"),
            _cc("is_hospital", "boolean", nullable=False, default=False),
            _cc("is_mental_health", "boolean", nullable=False, default=False),
            _cc("has_beds", "boolean", nullable=False, default=False),
            _cc("scope_name", "string"),
            _cc("scope_description", "string"),
            _cc("has_disciplines", "boolean", nullable=False, default=False),
            _cc("has_branches", "boolean", nullable=False, default=False),
            _cc("company_natures", "string"),
            _cc("ministerial_flows", "string"),
        ]
        + _audit_cols(),
        # no primary_key: the binding-table join fans each type id out to
        # one row per binding (the recast materializes the JOINED view, not
        # the deduplicated type dim the reference loads)
    ),
    "core.udo_specialties": TableContract(
        "udo_specialties",
        [
            _cc("is_authorized", "boolean", nullable=False, default=False),
            _cc("is_accredited", "boolean", nullable=False, default=False),
            _cc("num_beds", "int"),
            _cc("num_extra_beds", "int"),
            _cc("num_mortuary_beds", "int"),
            _cc("num_accredited_beds", "int"),
            _cc("hsp12", "string"),
            _cc("clinical_operational_unit_id", "string"),
            _cc("clinical_poa_node_id", "string"),
            _cc("specialty_id", "string"),
            _cc("udo_id", "string", nullable=False),
        ],
    ),
    "core.udos": TableContract(
        "udos",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string"),
            _cc("status", "string", nullable=False),
            _cc("code", "string"),
            _cc("operational_office_id", "bigint"),
            _cc("floor", "string"),
            _cc("block", "string"),
            _cc("ministerial_code", "string"),
            _cc("is_sio", "boolean", nullable=False, default=False),
            _cc("is_auac", "boolean", nullable=False, default=False),
            _cc("company_id", "bigint"),
            _cc("operational_unit_id", "string"),
        ]
        + _audit_cols(),
        primary_key=["id"],
    ),
    "core.users": TableContract(
        "users",
        [
            _cc("id", "string", nullable=False),
            _cc("username", "string", nullable=False),
            _cc("role", "string", nullable=False),
            _cc("first_name", "string", nullable=False),
            _cc("email", "string", nullable=False),
            _cc("tax_code", "string", nullable=False),
            _cc("birth_place", "string"),
            _cc("operational_unit_id", "string"),
        ]
        + _audit_cols(),
        primary_key=["id"],
    ),
    "core.bindings": TableContract(
        "bindings",
        [
            _cc("kind", "string", nullable=False),
            _cc("left_id", "string", nullable=False),
            _cc("right_id", "string", nullable=False),
            _cc("id", "string"),
            _cc("is_legal_representative", "boolean"),
            _cc("disabled_at", "timestamp"),
            _cc("created_at", "timestamp"),
            _cc("updated_at", "timestamp"),
            _cc("name", "string"),
            _cc("macroarea", "string"),
        ],
        # no primary_key: the relaxed concat of three binding templates
        # legitimately repeats (kind, left, right) across source slices
    ),
    "cronos.healthcare_companies": TableContract(
        "healthcare_companies",
        [
            _cc("id", "string", nullable=False),
            _cc("code", "string", nullable=False),
            _cc("name", "string", nullable=False),
            _cc("ulss_id", "string"),
        ],
        primary_key=["id"],
    ),
    "auac.requirement_templates": TableContract(
        "requirements",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string"),
            _cc("text", "string"),
            _cc("annotations", "string"),
            _cc("state", "string", nullable=False, default="BOZZA"),
            _cc("is_required", "boolean", nullable=False, default=False),
            _cc("requirement_taxonomy_id", "string", nullable=False),
            _cc("disabled_at", "timestamp"),
            _cc("created_at", "timestamp", nullable=False),
            _cc("updated_at", "timestamp", nullable=False),
            _cc("response_type", "string"),
        ],
        primary_key=["id"],
    ),
    "auac.requirement_taxonomies": TableContract(
        # sql/init_auac.sql:164 — name UNIQUE NOT NULL, is_readonly NOT NULL
        "requirement_taxonomies",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string", nullable=False),
            _cc("is_readonly", "boolean", nullable=False),
            _cc("disabled_at", "timestamp"),
            _cc("created_at", "timestamp", nullable=False),
            _cc("updated_at", "timestamp", nullable=False),
        ],
        primary_key=["id"],
    ),
    "auac.requirement_lists": TableContract(
        # sql/init_auac.sql:195 — resolution_id nullable
        "requirement_lists",
        [
            _cc("id", "string", nullable=False),
            _cc("name", "string", nullable=False),
            _cc("resolution_id", "string"),
            _cc("disabled_at", "timestamp"),
            _cc("created_at", "timestamp", nullable=False),
            _cc("updated_at", "timestamp", nullable=False),
        ],
        primary_key=["id"],
    ),
    "auac.procedures": TableContract(
        # sql/init_auac.sql:143 — progressive_code UNIQUE NOT NULL INTEGER,
        # company_id / procedure_type / status NOT NULL, dates nullable
        "procedures",
        [
            _cc("id", "string", nullable=False),
            _cc("progressive_code", "int", nullable=False),
            _cc("company_id", "string", nullable=False),
            _cc("status", "string", nullable=False),
            _cc("completion_date", "date"),
            _cc("sent_date", "date"),
            _cc("expiration_date", "date"),
            _cc("procedure_duration", "int"),
            _cc("max_procedure_duration", "int"),
            _cc("procedure_number", "string"),
            _cc("disabled_at", "timestamp"),
            _cc("created_at", "timestamp", nullable=False),
            _cc("updated_at", "timestamp", nullable=False),
            _cc("procedure_type", "string", nullable=False),
        ],
        primary_key=["id"],
    ),
    "poa.operational_events": TableContract(
        "operational_events",
        [
            _cc("event_id", "bigint", nullable=False),
            _cc("user_id", "bigint", nullable=False),
            _cc("event_class", "string", nullable=False, default="UNKNOWN"),
            _cc("event_ts", "timestamp", nullable=False),
            _cc("value_cents", "bigint", nullable=False, default=0),
        ],
        primary_key=["event_id"],
    ),
}


_RN = "__contract_rn"


@dataclass
class ContractGate:
    """A frame to write, with its contract check inside the write job.

    Writing ``frame`` fills ``observation``: ``rows`` (the rows written)
    and, under a contract, one violation count per rule, named like the
    ``rule`` column of ``contract_violations``.
    """

    frame: DataFrame
    contract: TableContract | None
    observation: Observation

    @property
    def rows(self) -> int:
        return self.observation.get["rows"]

    def check(self) -> None:
        """Raise if the write counted a violation; call it after the write
        and before the written files are published."""
        bad = {rule: n for rule, n in self.observation.get.items() if rule != "rows" and n}
        if bad:
            raise ValueError(f"contract '{self.contract.table}' violated: {bad}")


def enforce_contract(df: DataFrame, contract: TableContract | None) -> ContractGate:
    """Gate used by the runner: shape ``df`` to the contract and count its
    violations in the job that writes it — the engine-side equivalent of
    the reference's Postgres load rejecting a bad batch, except the error
    names every violated rule and its row count instead of dying mid-COPY.

    Runs no Spark job.  NOT NULL counts are aggregates of the observation.
    PK duplicates are exact: ``row_number`` over ``partitionBy(pk)``
    numbers each key's rows, and every fully-present row past the first is
    a duplicate — the same number as ``count(present) - countDistinct(pk)``
    in ``contract_violations``, for one shuffle of the output on the key
    (the rank column is dropped before the write).  ``contract=None``
    shapes nothing and only counts rows.
    """
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")]
    if contract is None:
        return ContractGate(df.observe(obs, *metrics), None, obs)
    shaped = apply_contract(df, contract)
    metrics += _not_null_counts(contract)
    pk = contract.primary_key
    if not pk:
        return ContractGate(shaped.observe(obs, *metrics), contract, obs)
    ranked = shaped.withColumn(_RN, F.row_number().over(Window.partitionBy(*pk).orderBy(*pk)))
    metrics.append(F.count(F.when(_pk_present(contract) & (F.col(_RN) > 1), 1)).alias(_pk_rule(contract)))
    return ContractGate(ranked.observe(obs, *metrics).drop(_RN), contract, obs)


@dataclass
class Expectation:
    """One statistical expectation on a column — the DISTRIBUTION-level
    contract the DDL layer (TableContract) cannot express: bounds on
    values and rates rather than types and nulls."""

    column: str
    min_value: float | None = None
    max_value: float | None = None
    max_null_frac: float | None = None
    min_distinct: int | None = None
    allowed_values: list | None = None


def expect(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Expectation-suite validation (the Great Expectations slot): check
    every statistical expectation in ONE aggregation pass and return one
    row per rule — (column, rule, observed, bound, ok) — so CI can diff
    the report and a scheduler can gate a load on ``ok = false`` rows.

    Unlike ``enforce_contract`` (row-level DDL gate: abort) and
    ``quarantine_rows`` (row-level filter), this is a TABLE-level monitor:
    nothing is dropped; drift shows up as a failed expectation before it
    shows up as a broken dashboard.

    Scale: every rule compiles into the same single ``agg`` (min/max/
    null-count/approx-free distinct per referenced column) — one shuffle of
    partial aggregates regardless of rule count; the report is O(rules).
    Multiple exact countDistinct aggregates trigger Spark's EXPAND (one
    row copy per distinct-rule) — price paid only for columns that declare
    ``min_distinct``.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, e in enumerate(expectations):
        c = F.col(e.column)
        if e.min_value is not None or e.max_value is not None:
            aggs.append(F.min(c).cast("double").alias(f"_min_{i}"))
            aggs.append(F.max(c).cast("double").alias(f"_max_{i}"))
        if e.max_null_frac is not None:
            aggs.append(
                F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"_nulls_{i}")
            )
        if e.min_distinct is not None:
            aggs.append(F.countDistinct(c).alias(f"_nd_{i}"))
        if e.allowed_values is not None:
            aggs.append(
                F.sum(F.when(~c.isin(e.allowed_values) & c.isNotNull(), 1).otherwise(0)).alias(
                    f"_bad_{i}"
                )
            )
    stats = df.agg(*aggs)
    reports = []
    for i, e in enumerate(expectations):
        if e.min_value is not None:
            reports.append(
                F.struct(
                    F.lit(e.column).alias("column"),
                    F.lit("min_value").alias("rule"),
                    F.col(f"_min_{i}").alias("observed"),
                    F.lit(float(e.min_value)).alias("bound"),
                    (F.col(f"_min_{i}") >= e.min_value).alias("ok"),
                )
            )
        if e.max_value is not None:
            reports.append(
                F.struct(
                    F.lit(e.column).alias("column"),
                    F.lit("max_value").alias("rule"),
                    F.col(f"_max_{i}").alias("observed"),
                    F.lit(float(e.max_value)).alias("bound"),
                    (F.col(f"_max_{i}") <= e.max_value).alias("ok"),
                )
            )
        if e.max_null_frac is not None:
            frac = F.round(F.col(f"_nulls_{i}") / F.col("_n"), 6) + F.lit(0.0)
            reports.append(
                F.struct(
                    F.lit(e.column).alias("column"),
                    F.lit("max_null_frac").alias("rule"),
                    frac.alias("observed"),
                    F.lit(float(e.max_null_frac)).alias("bound"),
                    (frac <= e.max_null_frac).alias("ok"),
                )
            )
        if e.min_distinct is not None:
            reports.append(
                F.struct(
                    F.lit(e.column).alias("column"),
                    F.lit("min_distinct").alias("rule"),
                    F.col(f"_nd_{i}").cast("double").alias("observed"),
                    F.lit(float(e.min_distinct)).alias("bound"),
                    (F.col(f"_nd_{i}") >= e.min_distinct).alias("ok"),
                )
            )
        if e.allowed_values is not None:
            reports.append(
                F.struct(
                    F.lit(e.column).alias("column"),
                    F.lit("allowed_values").alias("rule"),
                    F.col(f"_bad_{i}").cast("double").alias("observed"),
                    F.lit(0.0).alias("bound"),
                    (F.col(f"_bad_{i}") == 0).alias("ok"),
                )
            )
    return stats.select(
        F.explode(F.array(*reports)).alias("_r")
    ).select("_r.column", "_r.rule", "_r.observed", "_r.bound", "_r.ok")
