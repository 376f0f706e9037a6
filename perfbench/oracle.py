"""DuckDB replays that check the program's outputs.

HTN: the e-phenotype over the generated OMOP parquet, as one chain of CTEs
(adapted from the q83 oracle in `graft.queries.HtnQueries`). A written
analytical table matches when its row count and its order-free row digest
equal the replay's; the QC funnel matches when all five counts do.

Operator surface: each row's written result against its `oracleSql`,
normalized the way tools/check.py normalizes (sorted columns, sorted rows,
exact values, same dtype kinds).
"""
import glob
import os

import duckdb

from omop_gen import DBP_CONCEPTS, MEASUREMENT_YEAR, MMHG, SBP_CONCEPTS

TABLES = ["person", "condition_occurrence", "measurement", "observation",
          "procedure_occurrence", "drug_exposure"]
ANALYTICAL = ["PATIENT_LINKAGE", "age", "sex", "race", "state", "zip3",
              "HTN140_90", "HTN130_80", "HTNcontrol140", "HTNcontrol130",
              "DX", "MEDS", "hypertension_140", "hypertension_130"]
FUNNEL = ["cohort", "wra", "after_pregnancy", "after_esrd", "after_care"]


def _ids(xs):
    return ", ".join(str(x) for x in xs)


def htn_sql(year=MEASUREMENT_YEAR):
    """CTEs of the e-phenotype; `analytical` and the funnel stages are named."""
    y, prior = year, year - 1

    def coded(table, concept, date, codelist):
        return (f"SELECT PATIENT_LINKAGE AS pl FROM {table} WHERE {concept} IN "
                f"(SELECT concept_id FROM {codelist}) AND year({date}) = {y}")

    preg = " UNION ALL ".join([
        coded("condition_occurrence", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE", "preg_condition"),
        coded("measurement", "MEASUREMENT_CONCEPT_ID", "MEASUREMENT_DATE", "preg_measurement"),
        coded("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", "preg_observation"),
        coded("procedure_occurrence", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", "preg_procedure")])
    esrd = " UNION ALL ".join([
        coded("condition_occurrence", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE", "esrd_condition"),
        coded("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", "esrd_observation"),
        coded("procedure_occurrence", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", "esrd_procedure")])
    care = " UNION ALL ".join([
        coded("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", "palliative_observation"),
        coded("procedure_occurrence", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", "palliative_procedure"),
        coded("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE", "hospice_observation"),
        coded("procedure_occurrence", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE", "hospice_procedure")])
    sbp, dbp = _ids(SBP_CONCEPTS), _ids(DBP_CONCEPTS)
    return f"""
WITH demo AS (
  SELECT PATIENT_LINKAGE AS pl, YEAR_OF_BIRTH AS yob,
    trim(ETHNICITY_SOURCE_VALUE, '"') AS race, trim(GENDER_SOURCE_VALUE, '"') AS sex,
    trim(LOCATION_ZIP, '"') AS zip3, LOCATION_STATE AS state
  FROM person WHERE PATIENT_LINKAGE IS NOT NULL),
ok_keys AS (
  SELECT pl FROM demo GROUP BY pl
  HAVING count(DISTINCT yob) = 1 AND count(DISTINCT sex) = 1 AND count(DISTINCT race) = 1),
cohort0 AS (
  SELECT d.* FROM demo d SEMI JOIN ok_keys USING (pl)
  WHERE state IS NOT NULL AND zip3 IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY pl ORDER BY state, zip3) = 1),
wra AS (SELECT pl FROM cohort0 WHERE yob BETWEEN {y - 44} AND {y - 18} AND sex = 'F'),
preg AS (SELECT DISTINCT pl FROM ({preg}) SEMI JOIN wra USING (pl)),
esrd AS (SELECT DISTINCT pl FROM ({esrd})),
incare AS (SELECT DISTINCT pl FROM ({care})),
after_pregnancy AS (SELECT * FROM cohort0 ANTI JOIN preg USING (pl)),
after_esrd AS (SELECT * FROM after_pregnancy ANTI JOIN esrd USING (pl)),
after_care AS (SELECT * FROM after_esrd ANTI JOIN incare USING (pl)),
eligible AS (
  SELECT pl, yob, {y} - yob AS age,
    CASE race WHEN 'AFRICAN AMERICAN' THEN 'Black' WHEN 'ASIAN' THEN 'Asian'
      WHEN 'CAUCASIAN' THEN 'White' WHEN 'HISPANIC' THEN 'Hispanic'
      WHEN 'OTHER' THEN 'Other' WHEN 'UNKNOWN' THEN 'Unknown' ELSE race END AS race,
    CASE sex WHEN 'F' THEN 'Female' WHEN 'M' THEN 'Male' ELSE sex END AS sex,
    state, zip3
  FROM after_care WHERE yob <= {y - 18}),
bp AS (
  SELECT PATIENT_LINKAGE AS pl, MEASUREMENT_DATE AS d, MEASUREMENT_CONCEPT_ID AS c,
    VALUE_AS_NUMBER AS v
  FROM measurement
  WHERE UNIT_CONCEPT_ID = {MMHG} AND year(MEASUREMENT_DATE) IN ({prior}, {y})
    AND VALUE_AS_NUMBER IS NOT NULL
    AND ((MEASUREMENT_CONCEPT_ID IN ({sbp}) AND VALUE_AS_NUMBER BETWEEN 30 AND 300)
      OR (MEASUREMENT_CONCEPT_ID IN ({dbp}) AND VALUE_AS_NUMBER BETWEEN 20 AND 150))),
pairs AS (
  SELECT pl, d,
    round_even(avg(CASE WHEN c IN ({sbp}) THEN v END), 1) AS sbp,
    round_even(avg(CASE WHEN c IN ({dbp}) THEN v END), 1) AS dbp
  FROM bp GROUP BY pl, d
  HAVING sbp IS NOT NULL AND dbp IS NOT NULL),
denom_days AS (SELECT e.*, p.d, p.sbp, p.dbp FROM eligible e JOIN pairs p USING (pl)),
denom_pat AS (SELECT DISTINCT pl, age, sex, race, state, zip3 FROM denom_days),
flags AS (
  SELECT pl,
    CASE WHEN sum(CASE WHEN sbp >= 140 OR dbp >= 90 THEN 1 ELSE 0 END) > 1 THEN 1 ELSE 0 END AS h140,
    CASE WHEN sum(CASE WHEN sbp >= 130 OR dbp >= 80 THEN 1 ELSE 0 END) > 1 THEN 1 ELSE 0 END AS h130,
    arg_max(CASE WHEN sbp < 140 AND dbp < 90 THEN 1 ELSE 0 END, d) AS c140,
    arg_max(CASE WHEN sbp < 130 AND dbp < 80 THEN 1 ELSE 0 END, d) AS c130
  FROM denom_days WHERE year(d) = {y} GROUP BY pl),
dx AS (
  SELECT DISTINCT PATIENT_LINKAGE AS pl, 1 AS f FROM condition_occurrence
  WHERE CONDITION_CONCEPT_ID IN (SELECT concept_id FROM htn_dx)
    AND year(CONDITION_START_DATE) = {y}),
meds AS (
  SELECT DISTINCT PATIENT_LINKAGE AS pl, 1 AS f FROM drug_exposure
  WHERE DRUG_CONCEPT_ID IN (SELECT concept_id FROM htn_rx)
    AND year(DRUG_EXPOSURE_START_DATE) = {y}),
analytical AS (
  SELECT p.pl AS PATIENT_LINKAGE, p.age, p.sex, p.race, p.state, p.zip3,
    f.h140 AS HTN140_90, f.h130 AS HTN130_80, f.c140 AS HTNcontrol140, f.c130 AS HTNcontrol130,
    COALESCE(dx.f, 0) AS DX, COALESCE(meds.f, 0) AS MEDS,
    CASE WHEN COALESCE(dx.f, 0) = 1 OR COALESCE(meds.f, 0) = 1 OR COALESCE(f.h140, 0) = 1
      THEN 1 ELSE 0 END AS hypertension_140,
    CASE WHEN COALESCE(dx.f, 0) = 1 OR COALESCE(meds.f, 0) = 1 OR COALESCE(f.h130, 0) = 1
      THEN 1 ELSE 0 END AS hypertension_130
  FROM denom_pat p
  LEFT JOIN flags f USING (pl) LEFT JOIN dx USING (pl) LEFT JOIN meds USING (pl))
"""


def digest_sql(source):
    """Row count and an order-free digest over canonical column types."""
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in ANALYTICAL)
    return f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {source}"


class HtnOracle:
    """The replay over one generated OMOP directory, computed once."""

    def __init__(self, data_dir):
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/omop/{t}/*.parquet')")
        for f in glob.glob(f"{data_dir}/codelists/*.csv"):
            name = os.path.basename(f)[:-4]
            con.execute(f"CREATE VIEW {name} AS SELECT CAST(concept_id AS BIGINT) AS concept_id "
                        f"FROM read_csv('{f}', header = true)")
        counts = ", ".join(f"(SELECT count(*) FROM {s})"
                           for s in ["cohort0", "wra", "after_pregnancy", "after_esrd", "after_care"])
        row = con.sql(htn_sql() + f", d AS ({digest_sql('analytical')}) "
                      f"SELECT d.*, {counts} FROM d").fetchone()
        self.digest = row[:2]
        self.funnel = dict(zip(FUNNEL, row[2:]))
        self.con = con

    def check(self, output, funnel):
        """Mismatch messages for one written output (empty when it matches).
        With `funnel`, the output must carry all five funnel counts."""
        bad = []
        got = self.con.sql(digest_sql(f"read_parquet('{output['path']}/*.parquet')")).fetchone()
        if got != self.digest:
            bad.append(f"{output['path']}: analytical rows/digest {got} != oracle {self.digest}")
        for k in FUNNEL if funnel else []:
            if k not in output:
                bad.append(f"{output['path']}: funnel {k} missing")
            elif int(output[k]) != self.funnel[k]:
                bad.append(f"{output['path']}: funnel {k} {output[k]} != oracle {self.funnel[k]}")
        return bad


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_surface(data_dir, outputs, limit_s=120):
    """Mismatch messages, one per operator-surface row that disagrees with
    its oracle (or, for a row without one, returned no rows). An oracle
    query still running after `limit_s` is interrupted and named."""
    import threading
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for p in glob.glob(f"{data_dir}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for out in outputs:
        name = out["row"]
        spark = con.sql(f"SELECT * FROM read_parquet('{out['path']}/*.parquet')").df()
        if "sql" not in out:
            if len(spark) == 0:
                bad.append(f"{name}: no rows (row has no oracle)")
            continue
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            duck = con.sql(out["sql"]).df()
        except Exception as e:  # an oracle that cannot run is a mismatch too
            bad.append(f"{name}: oracle error {str(e)[:200]}")
            continue
        finally:
            timer.cancel()
        if len(duck) != len(spark) or sorted(duck.columns) != sorted(spark.columns):
            bad.append(f"{name}: shape spark={len(spark)}x{sorted(spark.columns)} "
                       f"oracle={len(duck)}x{sorted(duck.columns)}")
            continue
        d, s = _norm(duck), _norm(spark)
        drift = [c for c in d.columns if d[c].dtype.kind != s[c].dtype.kind]
        try:
            pd.testing.assert_frame_equal(d, s, check_dtype=False, check_exact=True)
        except AssertionError:
            bad.append(f"{name}: values differ from oracle")
            continue
        if drift:
            bad.append(f"{name}: dtype kinds differ {drift}")
    return bad
