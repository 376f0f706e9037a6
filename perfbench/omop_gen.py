"""Seeded synthetic OMOP generator for the HTN workloads.

The program under test receives only what this writes: six OMOP tables as
parquet directories (person, condition_occurrence, measurement,
observation, procedure_occurrence, drug_exposure) and the thirteen
codelists as CSV files with header `concept_id`.

Shapes (patient count, BP visits, coded-event density, codelist lengths)
come from workloads.json; the seed picks every random draw, so the same
seed and shape give the same files.

Planted pathologies, each of which the pipeline must clean:
  * mis-bridged patients: a second person row with another year of birth;
  * duplicate locations: a second person row with another zip;
  * person rows with a NULL state or zip;
  * implausible BP values at both ends of the plausible ranges;
  * BP rows in a wrong unit;
  * same-day duplicate BP readings.

QC rates follow the paper's reconciliation: pregnancy excludes about 9% of
women of reproductive age, ESRD about 0.2% of the cohort, in-care a few
hundredths of a percent. Pregnancy codes are also planted out of window
(prior year) and on patients outside the WRA group, which must not exclude.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEASUREMENT_YEAR = 2023
SBP_CONCEPTS = [4152194, 3004249, 4232915, 3018586]
DBP_CONCEPTS = [4154790, 3012888, 4248524, 3034703]
MMHG = 8876
FEMALE, MALE = 8532, 8507
RACES = ["CAUCASIAN", "AFRICAN AMERICAN", "ASIAN", "HISPANIC", "OTHER", "UNKNOWN"]
STATES = ["GA", "CA", "NY", "TX", "WA", "IL", "FL", "OH"]

# codelist name -> domain it is matched against
CODELISTS = [
    ("preg_condition", "condition"), ("preg_measurement", "measurement"),
    ("preg_observation", "observation"), ("preg_procedure", "procedure"),
    ("esrd_condition", "condition"), ("esrd_observation", "observation"),
    ("esrd_procedure", "procedure"),
    ("palliative_observation", "observation"), ("palliative_procedure", "procedure"),
    ("hospice_observation", "observation"), ("hospice_procedure", "procedure"),
    ("htn_dx", "condition"), ("htn_rx", "drug"),
]
BACKGROUND_BASE = 1_000_000
CODELIST_BASE = 2_000_000
DAY0 = np.datetime64(f"{MEASUREMENT_YEAR - 1}-01-01")
YEAR_START = np.datetime64(f"{MEASUREMENT_YEAR}-01-01")


def codelists(lengths):
    """Concept ids of each codelist: disjoint ranges, outside the background
    vocabulary, so only planted events hit a list."""
    return {name: CODELIST_BASE + i * 100_000 + np.arange(lengths[name], dtype=np.int64)
            for i, (name, _) in enumerate(CODELISTS)}


def linkage(pid):
    return np.char.add("P", np.char.zfill(pid.astype(str), 10))


def quoted(values):
    return np.char.add(np.char.add('"', values), '"')


def write(table, path, files):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // files))
    for i, off in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(off, step), f"{path}/part-{i:03d}.parquet")


def generate(out, shape, seed, files=4):
    """Write one OMOP set of `shape` (a workloads.json entry) under `out`."""
    rng = np.random.default_rng([seed, shape["patients"], shape["bp_visits"]])
    n = shape["patients"]
    lists = codelists(shape["codelist_lengths"])

    # ---- person -----------------------------------------------------------
    pid = np.arange(n, dtype=np.int64)
    ids = linkage(pid)
    yob = rng.integers(1930, 2015, n).astype(np.int32)
    female = rng.random(n) < 0.5
    race = np.array(RACES)[rng.integers(0, len(RACES), n)]
    zip3 = np.char.zfill(rng.integers(0, 900, n).astype(str), 3)
    state = np.array(STATES)[rng.integers(0, len(STATES), n)].astype(object)
    nullloc = rng.random(n) < 0.01
    null_state = rng.random(n) < 0.5
    state[nullloc & null_state] = None
    zip_q = quoted(zip3).astype(object)
    zip_q[nullloc & ~null_state] = None

    misb = rng.random(n) < 0.01
    dupl = rng.random(n) < 0.02
    rows = np.concatenate([pid, pid[misb], pid[dupl]])
    yob_r = np.concatenate([yob, yob[misb] + 1, yob[dupl]])
    other_zip = quoted(np.char.zfill(rng.integers(0, 900, dupl.sum()).astype(str), 3))
    zip_r = np.concatenate([zip_q, zip_q[misb], other_zip.astype(object)])
    fem_r = female[rows]
    person = pa.table({
        "PATIENT_LINKAGE": ids[rows],
        "YEAR_OF_BIRTH": pa.array(yob_r, pa.int32()),
        "GENDER_CONCEPT_ID": np.where(fem_r, FEMALE, MALE).astype(np.int64),
        "ETHNICITY_SOURCE_VALUE": quoted(race[rows]),
        "GENDER_SOURCE_VALUE": np.where(fem_r, '"F"', '"M"'),
        "LOCATION_ZIP": pa.array(list(zip_r), pa.string()),
        "LOCATION_STATE": pa.array(list(state[rows]), pa.string()),
    })
    write(person, f"{out}/person", files)

    # ---- blood pressure -----------------------------------------------------
    v = shape["bp_visits"]
    vp = np.repeat(pid, v)
    high = (rng.random(n) < 0.30)[vp]
    day = rng.integers(0, 730, vp.size)
    sbp = np.where(high, 135 + rng.integers(0, 40, vp.size), 105 + rng.integers(0, 30, vp.size))
    dbp = np.where(high, 85 + rng.integers(0, 25, vp.size), 65 + rng.integers(0, 20, vp.size))
    dup = rng.random(vp.size) < 0.05  # same-day duplicate: value + 2 keeps the mean exact
    vp = np.concatenate([vp, vp[dup]])
    day = np.concatenate([day, day[dup]])
    sbp = np.concatenate([sbp, sbp[dup] + 2]).astype(np.float64)
    dbp = np.concatenate([dbp, dbp[dup] + 2]).astype(np.float64)
    m = vp.size
    bad = rng.random(m)
    sbp[bad < 0.0025] = 350.0
    sbp[(bad >= 0.0025) & (bad < 0.005)] = 12.0
    bad = rng.random(m)
    dbp[bad < 0.0025] = 180.0
    dbp[(bad >= 0.0025) & (bad < 0.005)] = 8.0
    unit_s = np.where(rng.random(m) < 0.01, 9999, MMHG)
    unit_d = np.where(rng.random(m) < 0.01, 9999, MMHG)
    date = DAY0 + day.astype("timedelta64[D]")
    meas_parts = [
        dict(pl=vp, concept=np.array(SBP_CONCEPTS)[rng.integers(0, 4, m)], date=date,
             value=sbp, unit=unit_s),
        dict(pl=vp, concept=np.array(DBP_CONCEPTS)[rng.integers(0, 4, m)], date=date,
             value=dbp, unit=unit_d),
    ]

    # ---- coded events -------------------------------------------------------
    events = {d: [] for d in ("condition", "measurement", "observation", "procedure", "drug")}

    def add(domain, pl, concept, date):
        events[domain].append((pl, concept, date))

    def in_year(k, year_start=YEAR_START):
        return year_start + rng.integers(0, 365, k).astype("timedelta64[D]")

    # background: Poisson events per patient across the vocabulary
    k = rng.poisson(shape["events_per_patient"], n)
    bp_ = np.repeat(pid, k)
    dom = rng.choice(["condition", "measurement", "observation", "procedure", "drug"],
                     bp_.size, p=[0.35, 0.05, 0.2, 0.2, 0.2])
    conc = BACKGROUND_BASE + rng.integers(0, shape["vocabulary"], bp_.size)
    bdate = DAY0 + rng.integers(0, 730, bp_.size).astype("timedelta64[D]")
    for d in events:
        sel = dom == d
        add(d, bp_[sel], conc[sel], bdate[sel])

    def plant(patients, names, year_start=YEAR_START):
        """One event per patient, from a random list of `names` (and that
        list's domain), on a random day of the year starting at year_start."""
        which = rng.integers(0, len(names), patients.size)
        for i, name in enumerate(names):
            p = patients[which == i]
            codes = lists[name]
            add(dict(CODELISTS)[name], p, codes[rng.integers(0, codes.size, p.size)],
                in_year(p.size, year_start))

    wra = female & (yob >= MEASUREMENT_YEAR - 44) & (yob <= MEASUREMENT_YEAR - 18)
    preg = ["preg_condition", "preg_measurement", "preg_observation", "preg_procedure"]
    plant(pid[wra & (rng.random(n) < 0.09)], preg)
    plant(pid[~wra & (rng.random(n) < 0.01)], preg)          # outside WRA: kept
    plant(pid[wra & (rng.random(n) < 0.02)], preg, DAY0)     # prior year: kept
    plant(pid[rng.random(n) < 0.002], ["esrd_condition", "esrd_observation", "esrd_procedure"])
    plant(pid[rng.random(n) < 0.0003], ["palliative_observation", "palliative_procedure",
                                        "hospice_observation", "hospice_procedure"])
    plant(pid[rng.random(n) < 0.15], ["htn_dx"])
    plant(pid[rng.random(n) < 0.03], ["htn_dx"], DAY0)       # prior year: no DX flag
    plant(pid[rng.random(n) < 0.12], ["htn_rx"])

    def cat(domain):
        parts = events[domain]
        return (np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts]),
                np.concatenate([p[2] for p in parts]))

    def dated(domain, concept_col, date_col, extra=None):
        pl, c, d = cat(domain)
        cols = {"PATIENT_LINKAGE": ids[pl], concept_col: c.astype(np.int64)}
        if extra:
            cols[extra] = np.full(pl.size, '"code"')
        cols[date_col] = pa.array(d.astype("datetime64[D]"), pa.date32())
        return pa.table(cols)

    write(dated("condition", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE",
                "CONDITION_CONCEPT_DESC"), f"{out}/condition_occurrence", files)
    write(dated("observation", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE"),
          f"{out}/observation", files)
    write(dated("procedure", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE"),
          f"{out}/procedure_occurrence", files)
    write(dated("drug", "DRUG_CONCEPT_ID", "DRUG_EXPOSURE_START_DATE"),
          f"{out}/drug_exposure", files)

    pl, c, d = cat("measurement")
    meas_parts.append(dict(pl=pl, concept=c, date=d, value=np.ones(pl.size),
                           unit=np.full(pl.size, 9999)))
    mp = {key: np.concatenate([p[key] for p in meas_parts]) for key in meas_parts[0]}
    bp_rows = mp["concept"] < BACKGROUND_BASE
    write(pa.table({
        "PATIENT_LINKAGE": ids[mp["pl"]],
        "MEASUREMENT_CONCEPT_ID": mp["concept"].astype(np.int64),
        "MEASUREMENT_CONCEPT_DESC": np.where(bp_rows, '"BP"', '"code"'),
        "MEASUREMENT_DATE": pa.array(mp["date"].astype("datetime64[D]"), pa.date32()),
        "VALUE_AS_NUMBER": mp["value"].astype(np.float64),
        "UNIT_CONCEPT_ID": mp["unit"].astype(np.int64),
        "UNIT_CONCEPT_DESC": np.where(mp["unit"] == MMHG, '"mmHg"', '"other"'),
    }), f"{out}/measurement", files)
    return lists


def write_codelists(out, lists):
    os.makedirs(out, exist_ok=True)
    for name, codes in lists.items():
        with open(f"{out}/{name}.csv", "w") as f:
            f.write("concept_id\n")
            f.writelines(f"{c}\n" for c in codes)
