"""Output checks. Each returns an error string, or ``None`` when the
output is correct. They run outside every timed region.

Cohort results are compared, as multisets, with an independent DuckDB
evaluation over the same CSVs: the SQL shape of the engine's CSV oracle
(``queries_csv``), with the query's cohort and filters substituted.
"""

from __future__ import annotations

import os
from collections import Counter

from perfbench import inputs

_DUCK_TYPES = {
    "StringType()": "VARCHAR",
    "LongType()": "BIGINT",
    "DoubleType()": "DOUBLE",
    "TimestampType()": "TIMESTAMP",
    "BooleanType()": "BOOLEAN",
}


def _read_csv(data_dir: str, table: str) -> str:
    from datamodel_clinicaldata_spark.schemas import CLINICAL_SCHEMAS

    cols = ", ".join(
        f"'{f.name}': '{_DUCK_TYPES[repr(f.dataType)]}'"
        for f in CLINICAL_SCHEMAS[table].fields
    )
    path = os.path.join(data_dir, f"{table}.csv")
    return f"read_csv('{path}', header=true, columns={{{cols}}})"


_SIGMA = "Wts_CreatedDate ASC NULLS LAST, Wts_UpdatedDate ASC NULLS LAST, Weight ASC NULLS LAST"
_SIGMA_PAT = f"TreatmentTypeID ASC NULLS LAST, Tmt_StartDate ASC NULLS LAST, {_SIGMA}"
_FULL = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
_TRT = "UID, TreatmentTypeID, Tmt_StartDate"


def _windowed_sql(data_dir: str, coh: str) -> str:
    """Every joined row with its cohort metrics, before any filter (the
    engine filters after the windows)."""
    return f"""
WITH u AS (SELECT * FROM {_read_csv(data_dir, 'users')}),
w AS (SELECT * FROM {_read_csv(data_dir, 'weights')}),
t AS (SELECT * FROM {_read_csv(data_dir, 'treatments')}),
joined AS (
  SELECT u.UID, u.Name, u.LastName, u.Gender, u.Unit, u.Birthday, u.Age,
         u.Height, u.CreatedDate AS UIDCreatedDate, u.IsActive AS UIDIsActive,
         u.ClinicID, u.loginId, u.success,
         w.Weight, w.BMI, w.BodyFat, w.BodyWater, w.Bone, w.VisceralFat,
         w.BMR, w.MuscleMass, w.CreatedDate AS Wts_CreatedDate,
         w.UpdatedDate AS Wts_UpdatedDate, w.IsActive AS Wts_IsActive,
         w.IsDelete, t.TreatmentTypeID, t.StartDate AS Tmt_StartDate
  FROM u
  LEFT JOIN w ON u.UID = w.MasterUserID
  LEFT JOIN t ON u.UID = t.MasterUserID
), bucketed AS (
  SELECT *,
         CAST(floor(date_diff('day', Tmt_StartDate, Wts_CreatedDate) / 30.417) AS INTEGER) AS month,
         CAST(floor(date_diff('day', Tmt_StartDate, Wts_CreatedDate) / 7) AS INTEGER) AS week
  FROM joined
), m1 AS (
  SELECT *,
         count(Wts_UpdatedDate) OVER w_coh AS WIR,
         first_value(Weight) OVER w_pat AS PSW,
         first_value(Weight) OVER w_trt AS TSW,
         last_value(Weight) OVER w_trt AS TEW,
         first_value(Weight) OVER w_coh AS first_w
  FROM bucketed
  WINDOW
    w_pat AS (PARTITION BY UID ORDER BY {_SIGMA_PAT} {_FULL}),
    w_trt AS (PARTITION BY {_TRT} ORDER BY {_SIGMA} {_FULL}),
    w_coh AS (PARTITION BY {_TRT}, {coh} ORDER BY {_SIGMA} {_FULL})
), m2 AS (
  SELECT *,
         first_w - lead(first_w) OVER (PARTITION BY {_TRT} ORDER BY {_SIGMA}) AS wgt_diff
  FROM m1
)
SELECT *, TEW - TSW AS treatment_TBWL,
       max(wgt_diff) OVER (PARTITION BY {_TRT}, {coh} ORDER BY {_SIGMA} {_FULL}) AS patient_TBWL
FROM m2
"""


def frame_rows(pdf) -> list[tuple]:
    """Rows of a pandas frame as plain Python values, comparable with
    DuckDB's: NaN and NaT become None, timestamps datetimes, numpy
    scalars Python numbers."""
    import pandas as pd

    def plain(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        return v.item() if hasattr(v, "item") else v

    return [tuple(plain(v) for v in row) for row in pdf.itertuples(index=False, name=None)]


class CohortOracle:
    """DuckDB evaluation of cohort queries over one set of CSVs. The
    windowed rows of each cohort are computed once per run; a query is
    then its filters and DISTINCT over them."""

    def __init__(self, con, data_dir: str):
        self.con, self.data_dir = con, data_dir
        self._tables: set[str] = set()

    def sql(self, q: dict, columns: list[str]) -> str:
        """Query ``q`` (cohort, gender, min_age, max_age, clinic_id or None)
        selecting ``columns`` in that order."""
        coh = q["cohort"]
        table = f"windowed_{coh}"
        if table not in self._tables:
            self.con.execute(f"CREATE TEMP TABLE {table} AS {_windowed_sql(self.data_dir, coh)}")
            self._tables.add(table)
        where = [f"Age BETWEEN {int(q['min_age'])} AND {int(q['max_age'])}"]
        if q["gender"] != "all":
            where.append(f"Gender = '{q['gender']}'")
        if q["clinic_id"] is not None:
            where.append(f"ClinicID = {int(q['clinic_id'])}")
        return f"SELECT DISTINCT {', '.join(columns)} FROM {table} WHERE {' AND '.join(where)}"

    def rows(self, q: dict, columns: list[str], rows) -> str | None:
        """Collected rows (tuples in ``columns`` order) against the oracle;
        integral floats equal their integers, so a column that pandas
        widened to float for its NULLs still compares."""
        want = Counter(self.con.execute(self.sql(q, columns)).fetchall())
        got = Counter(tuple(r) for r in rows)
        if got == want:
            return None
        return (
            f"cohort {q}: {sum(got.values())} rows vs oracle {sum(want.values())}; "
            f"{sum((got - want).values())} unexpected, {sum((want - got).values())} missing"
        )


class PairCheck:
    """Near-duplicate pair sets of one corpus. Each generator must return
    exactly the pairs with Jaccard ≥ τ, computed exactly when the corpus
    was generated (``inputs.similar_pairs``), each with its exact Jaccard;
    a missing planted copy is named as such."""

    def __init__(self, man: dict):
        self.want = {(a, b): jac for a, b, jac in man["pairs"]}
        self.must_find = {tuple(p) for p in man["must_find"]}

    def __call__(self, prefix_rows, minhash_rows) -> str | None:
        for name, rows in (("prefix_filter", prefix_rows), ("minhash", minhash_rows)):
            got = {}
            for a, b, jac in rows:
                if (a, b) in got:
                    return f"{name}: pair ({a}, {b}) repeated"
                got[a, b] = jac
            missed = self.must_find - got.keys()
            if missed:
                return f"{name}: {len(missed)} planted pairs missing, e.g. {min(missed)}"
            if got.keys() != self.want.keys():
                return (
                    f"{name}: {len(got.keys() - self.want.keys())} pairs below τ or out of order, "
                    f"{len(self.want.keys() - got.keys())} pairs with Jaccard ≥ τ missing"
                )
            for p, jac in got.items():
                if abs(jac - self.want[p]) > 1e-9:
                    return f"{name}: pair {p} reports Jaccard {jac}, exact {self.want[p]}"
        return None


def curated(man: dict, out: str) -> str | None:
    """Curated corpus: exactly the smallest doc_id of each distinct
    in-range text, token counts as generated, and bins exactly the
    ``quota_chunk_bins`` assignment (per source in doc_id order, a
    document's bin is its exclusive running token sum divided by the
    budget). A bin therefore exceeds the budget by at most its last
    document, the operator's documented contract."""
    import pyarrow.parquet as pq

    t = pq.read_table(out, columns=["doc_id", "source", "n_tokens", "bin_id", "text"])
    if t.num_rows != len(man["curated_ids"]):
        return f"curated {t.num_rows} rows, expected {len(man['curated_ids'])}"
    if sorted(t["doc_id"].to_pylist()) != man["curated_ids"]:
        return "curated output keeps other documents than the first of each distinct text"
    rows = sorted(zip(*(t[c].to_pylist() for c in ("source", "doc_id", "n_tokens", "bin_id", "text"))))
    cum: dict = {}
    bins: dict = {}
    for source, doc_id, n_tok, bin_id, text in rows:
        if n_tok != len(text.split()) or not inputs.MIN_TOKENS <= n_tok <= inputs.MAX_TOKENS:
            return f"doc {doc_id}: n_tokens {n_tok} wrong or out of range"
        start = cum.get(source, 0)
        if bin_id != start // inputs.BUDGET:
            return f"doc {doc_id}: bin {bin_id}, expected {start // inputs.BUDGET}"
        cum[source] = start + n_tok
        b = bins.setdefault((source, bin_id), [0, 0])
        b[0] += n_tok
        b[1] = n_tok
    for (source, bin_id), (total, last) in bins.items():
        if total - last >= inputs.BUDGET:
            return f"bin ({source}, {bin_id}) holds {total} tokens, over budget before its last document"
    return None


def fill_ratio(out: str) -> float:
    """Tokens packed ÷ (bins × budget) of a curated output."""
    import pyarrow.parquet as pq

    t = pq.read_table(out, columns=["source", "bin_id", "n_tokens"])
    bins = set(zip(t["source"].to_pylist(), t["bin_id"].to_pylist()))
    return sum(t["n_tokens"].to_pylist()) / (len(bins) * inputs.BUDGET)
