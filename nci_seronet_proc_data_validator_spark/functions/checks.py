"""Scalar check operators (SURVEY.md §2.6, C1–C12) as single-source SQL
templates compiled to two backends.

Every reference check (``File_Submission_Object.py``) filtered the pandas
sheet row-by-row with Python lambdas and appended findings. Here each check
compiles to one or more ``CheckExpr`` — (violation predicate, message,
severity) — over the raw string column and its typed shadows
(``c__num``/``c__ts``, see ``operators/typing.py``).

Dual-backend design: the violation predicate is ONE SQL string written in
the dialect subset Spark SQL and DuckDB share, referencing raw columns and
shadow columns (both engines materialize the same shadows — Spark via
``with_typed_shadows``, the oracle via ``duckdb_shadow_exprs`` in its
fixture CTEs). The only dialect split is the regex function name, carried
by the ``__rlike__`` placeholder (→ ``regexp_like`` on Spark,
``regexp_matches`` on DuckDB). One template, two renders — the engine and
its oracle cannot drift, and binding a rulebook builds no JVM objects at
all (a ~400-check bind is pure string work; Column trees materialize
lazily, via ``F.expr``, only when a query compiles).

``CheckExpr.violation`` may also be a pyspark Column for caller-supplied
custom rules; such checks have no SQL mirror (``sql`` is None), and only
direct ``plans.rules.compile_sheet_findings`` callers accept them (it
falls back to Column composition). The submission compiler
(``orchestrate.validate_batched``) renders SQL text and rejects them.

Message strings reproduce the reference **verbatim**, including its typos
("interger", "databse", "requred", double spaces) — they are observable
output, i.e. spec.

Blank policy: the reference's ``sort_and_drop(header, keep_blank=False)``
(File_Submission_Object.py:152-156) silently drops findings whose value is
``''`` for most checks; only the missing-value pass reports blanks. We
encode that as a ``value <> ''`` guard on every check except
``get_missing_values``.

Keep-first dedup: pandas ``drop_duplicates`` keeps the first finding per
(Row_Index, Column_Name, Column_Value). The compiler reproduces this by
coalescing all candidates of one column in rule order (plans/rules.py).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.typing import (
    num_col,
    ts_col,
)

ERROR = "Error"
WARNING = "Warning"

_RLIKE = "__rlike__"


def render_spark_sql(template: str) -> str:
    return template.replace(_RLIKE, "regexp_like")


def render_duckdb_sql(template: str) -> str:
    return template.replace(_RLIKE, "regexp_matches")


@dataclass
class CheckExpr:
    """One error class: rows where ``violation`` holds get ``message``.

    ``violation``: a shared-dialect SQL template (normal case — renders to
    both Spark and DuckDB), or a pyspark Column (custom caller rules, no
    oracle mirror).

    ``message_sql``: optional shared-dialect SQL template for a PER-ROW
    message (batched multi-CBC mode renders the C5 "wrong CBC code"
    message as a CASE over the submission's ``__cbc_id`` column). When
    set, it takes precedence over ``message`` in every render path;
    ``message`` remains a plain-string description so texty-path
    detection (one selectExpr per sheet) is unaffected.
    """
    violation: str | Column
    message: Column | str
    severity: str = ERROR
    message_sql: str | None = None

    def violation_col(self) -> Column:
        if isinstance(self.violation, Column):
            return self.violation
        return F.expr(render_spark_sql(self.violation))

    @property
    def sql(self) -> str | None:
        """The DuckDB render of the predicate (None for Column rules)."""
        if isinstance(self.violation, Column):
            return None
        return render_duckdb_sql(self.violation)

    def msg_col(self) -> Column:
        if self.message_sql is not None:
            return F.expr(render_spark_sql(self.message_sql))
        return F.lit(self.message) if isinstance(self.message, str) else self.message


# ------------------------------------------------------------ SQL fragments

def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_str_list(vals: list[str]) -> str:
    return ", ".join(_sql_quote(v) for v in vals)


def _num(c: str) -> str:
    return num_col(c)


def _is_num(c: str) -> str:
    return f"{num_col(c)} IS NOT NULL"


def _is_ts(c: str) -> str:
    return f"{ts_col(c)} IS NOT NULL"


def _is_str(c: str) -> str:
    """"is a string" after convert_data_type = neither float nor date."""
    return f"({num_col(c)} IS NULL AND {ts_col(c)} IS NULL)"


def _nonblank(c: str) -> str:
    return f"{c} <> ''"


@dataclass(frozen=True)
class Dependency:
    """P9 row scoping (``check_multi_rule``, File_Submission_Object.py:534-543).

    ``value`` is ``"Is A Number"`` / ``"Is A Date"`` / a list of strings.
    """
    column: str
    value: str | tuple[str, ...] | list[str] = ()

    def predicate_sql(self) -> str:
        if self.value == "Is A Number":
            return f"({_is_num(self.column)})"
        if self.value == "Is A Date":
            return f"({_is_ts(self.column)})"
        vals = list(self.value) if not isinstance(self.value, str) else [self.value]
        if not vals:
            return "(FALSE)"  # empty scope — 'IN ()' would not parse
        return f"({self.column} IN ({_sql_str_list(vals)}))"

    def predicate(self) -> Column:
        return F.expr(render_spark_sql(self.predicate_sql()))

    def error_str(self) -> str:
        # Trailing spaces match the reference exactly.
        if self.value == "Is A Number":
            return self.column + " is a Number "
        if self.value == "Is A Date":
            return self.column + " is a Date "
        vals = list(self.value) if not isinstance(self.value, str) else [self.value]
        return self.column + " is in " + str(vals)


def _apply_dependency(checks: list[CheckExpr],
                      dependency: Dependency | None) -> list[CheckExpr]:
    if dependency is None:
        return checks
    psql = dependency.predicate_sql()
    return [CheckExpr(f"({psql} AND {ce.violation})", ce.message,
                      ce.severity, message_sql=ce.message_sql)
            for ce in checks]


def check_in_list(column: str, list_values: list,
                  dependency: Dependency | None = None) -> list[CheckExpr]:
    """C1 (File_Submission_Object.py:194-208): value ∈ list or ``''``.

    The reference compares POST-coercion cells, so numeric list members
    (e.g. ``[0]`` for Covid_Disease_Severity, Validation_Rules.py:149) match
    the float the cell was coerced to — we test those against the numeric
    shadow.
    """
    if dependency is None:
        msg = ("Unexpected Value.  Value must be one of the following: "
               + str(list_values))
    else:
        msg = (dependency.error_str()
               + ".  Value must be one of the following: " + str(list_values))
    strs = [v for v in list_values if isinstance(v, str)]
    nums = [float(v) for v in list_values if not isinstance(v, str)]
    pass_sql = f"{column} IN ({_sql_str_list(strs)})" if strs else "FALSE"
    if nums:
        pass_sql += (f" OR {_num(column)} IN "
                     f"({', '.join(repr(v) for v in nums)})")
    viol = f"(NOT ({pass_sql}) AND {_nonblank(column)})"
    return _apply_dependency([CheckExpr(viol, msg)], dependency)


def check_date(column: str, lower_lim, upper_lim, na_allowed: bool,
               time_check: str = "Date",
               dependency: Dependency | None = None) -> list[CheckExpr]:
    """C2 (File_Submission_Object.py:210-243).

    - not a parseable date (and not ``''`` / allowed ``'N/A'``) → Error;
    - valid but out of [lower, upper] → Error, EXCEPT past
      ``*Expiration_Date*`` / ``*Calibration_Due_Date*`` → Warning with a
      dedicated message. Limits are date/datetime (SQL DATE literals).
    """
    if time_check == "Date":
        fmt_msg = "Value must be a Valid Date MM/DD/YYYY"
    else:
        fmt_msg = "Value must be a Valid Time HH:MM:SS"
    allowed = [""] if not na_allowed else ["", "N/A"]
    if na_allowed:
        fmt_msg = fmt_msg + " Or N/A"

    not_date = (f"(NOT {_is_ts(column)}"
                f" AND {column} NOT IN ({_sql_str_list(allowed)})"
                f" AND {_nonblank(column)})")
    out = [CheckExpr(not_date, fmt_msg)]

    if time_check == "Date":
        range_msg = ("Date is valid however must be between "
                     + str(lower_lim) + " and " + str(upper_lim))

        def _bound(op: str, lim) -> str:
            if not isinstance(lim, (_dt.date, _dt.datetime)):
                raise TypeError(f"date bound must be date-like: {lim!r}")
            day = lim.date() if isinstance(lim, _dt.datetime) else lim
            return (f"({_is_ts(column)} AND CAST({ts_col(column)} AS DATE)"
                    f" {op} DATE '{day.isoformat()}'"
                    f" AND {_nonblank(column)})")

        early, late = _bound("<", lower_lim), _bound(">", upper_lim)
        if "Expiration_Date" in column:
            out.append(CheckExpr(
                early, "Expiration Date has already passed, check to make "
                       "sure date is correct", WARNING))
        elif "Calibration_Due_Date" in column:
            out.append(CheckExpr(
                early, "Calibration Date has already passed, check to make "
                       "sure date is correct", WARNING))
        else:
            out.append(CheckExpr(early, range_msg))
        out.append(CheckExpr(late, range_msg))
    return _apply_dependency(out, dependency)


def check_if_number(column: str, lower_lim: float, upper_lim: float,
                    na_allowed: bool, num_type: str = "float",
                    dependency: Dependency | None = None) -> list[CheckExpr]:
    """C3 (File_Submission_Object.py:245-269).

    Reference quirk reproduced: when ``num_type == 'int'`` the range/
    not-a-number message is overwritten by the integer message before use,
    so ALL error classes of an int column carry the "interger" text.
    """
    range_msg = ("Value must be a number between " + str(lower_lim)
                 + " and " + str(upper_lim))
    if dependency is not None:
        range_msg = (dependency.error_str()
                     + ".  Value must be a number between "
                     + str(lower_lim) + " and " + str(upper_lim))
    int_msg = ("Value must be an interger between " + str(lower_lim)
               + " and " + str(upper_lim)
               + ", decimal values are not allowed")
    msg = int_msg if num_type == "int" else range_msg

    allowed = [""] if not na_allowed else ["", "N/A"]
    n = _num(column)
    nb = _nonblank(column)
    out = [CheckExpr(f"({n} IS NULL AND {column} NOT IN "
                     f"({_sql_str_list(allowed)}) AND {nb})", msg)]
    if num_type == "int":
        # NaN/Infinity are explicitly non-integers: Spark's floor(double)
        # casts through BIGINT (NaN <> floor(NaN) → true) while DuckDB
        # keeps NaN = NaN — the explicit guard makes both engines flag.
        out.append(CheckExpr(
            f"({n} IS NOT NULL AND (isnan({n})"
            f" OR abs({n}) = CAST('Infinity' AS DOUBLE)"
            f" OR {n} <> floor({n})) AND {nb})", int_msg))
    out.append(CheckExpr(
        f"({n} IS NOT NULL AND {n} < {float(lower_lim)!r} AND {nb})", msg))
    out.append(CheckExpr(
        f"({n} IS NOT NULL AND {n} > {float(upper_lim)!r} AND {nb})", msg))
    return _apply_dependency(out, dependency)


def check_if_string(column: str, na_allowed: bool = False,
                    dependency: Dependency | None = None) -> list[CheckExpr]:
    """C4 (File_Submission_Object.py:288-301): cell must have stayed a
    string through type coercion (not number, not date)."""
    if dependency is None:
        msg = "Value must be a string and NOT N/A"
    else:
        msg = dependency.error_str() + ".  Value must be a string and NOT N/A"
    viol = f"(NOT {_is_str(column)} AND {_nonblank(column)})"
    return _apply_dependency([CheckExpr(viol, msg)], dependency)


@dataclass(frozen=True)
class PerRowCbc:
    """Batched multi-CBC mode: the CBC id lives in a per-row column.

    The reference resolves the CBC per submission
    (File_Submission_Object.py:82-87), so a production batch mixes labs.
    ``column`` is the tag column (one literal per submission, stamped at
    load like the submission id); ``values`` is the batch's DISTINCT CBC
    ids. Checks render as a CASE over ``column`` with one LITERAL-regex
    branch per distinct value — Spark's RLIKE caches the compiled pattern
    only when it is foldable, so the CASE keeps the hot path off per-row
    Pattern.compile while the plan stays O(distinct CBCs), not O(rows)
    or O(submissions). Hashable by design: it is part of the
    ``bind_sheet_rules_cached`` key.
    """
    column: str = "__cbc_id"
    values: tuple[str, ...] = ()


def _cbc_prefix_message(cbc_id: str) -> str:
    if int(cbc_id) == 0:
        return ("ID is Valid however submission file is missing, unable "
                "to validate CBC code")
    return ("ID is Valid however has wrong CBC code. Expecting CBC "
            "Code (" + str(cbc_id) + ")")


def check_id_field(column: str, pattern_str: str,
                   cbc_id: "str | PerRowCbc",
                   pattern_error: str) -> list[CheckExpr]:
    """C5 (File_Submission_Object.py:166-180): format regex then CBC-prefix
    regex. A value failing both gets only the format error (keep-first
    dedup); blanks report nothing (reference skips '' explicitly for the
    format branch and drops '' findings for the CBC branch).

    ``cbc_id`` may be a :class:`PerRowCbc` (batched multi-CBC mode): the
    prefix check and its message then render as CASE expressions over the
    per-row CBC column, one literal branch per distinct CBC in the batch.
    """
    nb = _nonblank(column)
    fmt = CheckExpr(f"(NOT {_RLIKE}({column}, "
                    f"{_sql_quote('^[0-9]{2}' + pattern_str)}) AND {nb})",
                    "ID is Not Valid Format, Expecting " + pattern_error)
    if isinstance(cbc_id, PerRowCbc):
        if not cbc_id.values:
            raise ValueError("PerRowCbc.values must list the batch's "
                             "distinct CBC ids")
        viol_branches = " ".join(
            f"WHEN {_sql_quote(v)} THEN (NOT {_RLIKE}({column}, "
            f"{_sql_quote('^' + v + pattern_str)}))"
            for v in cbc_id.values)
        msg_branches = " ".join(
            f"WHEN {_sql_quote(v)} THEN {_sql_quote(_cbc_prefix_message(v))}"
            for v in cbc_id.values)
        return [
            fmt,
            CheckExpr(f"((CASE {cbc_id.column} {viol_branches}"
                      f" ELSE FALSE END) AND {nb})",
                      "ID is Valid however has wrong CBC code (per-row "
                      "CBC; see message_sql)",
                      message_sql=(f"CASE {cbc_id.column} {msg_branches}"
                                   f" END")),
        ]
    return [
        fmt,
        CheckExpr(f"(NOT {_RLIKE}({column}, "
                  f"{_sql_quote('^' + cbc_id + pattern_str)}) AND {nb})",
                  _cbc_prefix_message(cbc_id)),
    ]


def check_if_substr(column: str, id_1: str, id_2: str) -> list[CheckExpr]:
    """C7 (File_Submission_Object.py:189-192): x[id_1] must be a substring
    of x[id_2]."""
    msg = (id_1 + " is not a substring of " + id_2
           + ".  Data is not Valid, please check data")
    viol = f"(NOT contains({id_2}, {id_1}) AND {_nonblank(column)})"
    return [CheckExpr(viol, msg)]


def check_icd10(column: str, valid_flag_col: str) -> list[CheckExpr]:
    """C8 (File_Submission_Object.py:303-309): non-strings are errors;
    strings must be known ICD-10 codes or 'N/A'.

    ``valid_flag_col`` is a boolean column: on Spark it comes from the
    broadcast left join against the ICD-10 table (J8,
    ``operators/joins.icd10_flag_join``, dot-normalized); the oracle CTE
    computes the same flag with an IN-subquery (``plans/fixture.py``). The
    reference called ``icd10.exists(x)`` per cell; the join keeps the
    lookup distributed and JVM-side.
    """
    msg = ("Invalid or unknown ICD10 code, Value must be Valid ICD10 code "
           "or N/A")
    nb = _nonblank(column)
    sql = (f"(({_is_str(column)}"
           f" AND NOT coalesce({valid_flag_col}, FALSE)"
           f" AND {column} <> 'N/A' AND {nb})"
           f" OR (NOT {_is_str(column)} AND {nb}))")
    return [CheckExpr(sql, msg)]


def assay_special(column: str, joined_field: str,
                  header_name: str) -> list[CheckExpr]:
    """C9 (File_Submission_Object.py:162-165): value failed to resolve
    against the assay reference — the left-joined field is null."""
    msg = (header_name + " is not found in the table of valid " + header_name
           + "s in databse or submitted file")
    return [CheckExpr(f"({joined_field} IS NULL AND {_nonblank(column)})",
                      msg)]


def compare_total_to_live(total_column: str) -> list[CheckExpr]:
    """C10 (File_Submission_Object.py:271-277): Live_Cells_* > Total_Cells_*
    (both numeric) is an error. Column pairing by name substitution."""
    live_column = total_column.replace("Total_Cells", "Live_Cells")
    tn, ln = _num(total_column), _num(live_column)
    sql = (f"({tn} IS NOT NULL AND {ln} IS NOT NULL AND {ln} > {tn}"
           f" AND {_nonblank(total_column)})")
    return [CheckExpr(sql,
                      "Live Cell Count must be less than Total Cell Count")]


def compare_viability(viability_column: str) -> list[CheckExpr]:
    """C11 (File_Submission_Object.py:278-286):
    round(live/total*100, 1) != viability (all three numeric)."""
    live = viability_column.replace("Viability", "Live_Cells")
    total = viability_column.replace("Viability", "Total_Cells")
    vn, ln, tn = _num(viability_column), _num(live), _num(total)
    sql = (f"({vn} IS NOT NULL AND {ln} IS NOT NULL AND {tn} IS NOT NULL"
           f" AND round({ln} / {tn} * 100, 1) <> {vn}"
           f" AND {_nonblank(viability_column)})")
    return [CheckExpr(
        sql, "Viability Count must be equal to (Live_Count / Total_Count) * 100")]


def get_missing_values(column: str, required_column: str,
                       sars_col: str = "SARS_CoV_2_PCR_Test_Result"
                       ) -> list[CheckExpr]:
    """C12 (File_Submission_Object.py:311-333): '' cells. Severity: Error if
    required, Warning if optional; "Yes: SARS-Positive"/"Yes: SARS-Negative"
    split severity by the PCR result cohort."""
    blank = f"{column} = ''"
    req_msg = "Missing Values are not allowed for this column.  Please recheck data"
    warn_msg = "Missing Values where found, this is a warning.  Please recheck data"
    if required_column == "Yes":
        return [CheckExpr(f"({blank})", req_msg, ERROR)]
    if required_column == "No":
        return [CheckExpr(f"({blank})", warn_msg, WARNING)]
    if required_column == "Yes: SARS-Positive":
        err_msg = ("This column is requred for Sars Positive Patients, "
                   "missing values are not allowed.  Please recheck data")
        return [
            CheckExpr(f"({blank} AND {sars_col} = 'Positive')", err_msg,
                      ERROR),
            CheckExpr(f"({blank} AND {sars_col} = 'Negative')", warn_msg,
                      WARNING),
        ]
    if required_column == "Yes: SARS-Negative":
        err_msg = ("This column is requred for Sars Negative Patients, "
                   "missing values are not allowed.  Please recheck data")
        return [
            CheckExpr(f"({blank} AND {sars_col} = 'Negative')", err_msg,
                      ERROR),
            CheckExpr(f"({blank} AND {sars_col} = 'Positive')", warn_msg,
                      WARNING),
        ]
    return []
