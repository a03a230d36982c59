"""Deterministic input generators for the benchmark.

Two kinds of input:

* ``write_tables``: the star-schema table set the registry queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), one parquet file per table, with the schemas and
  value vocabularies of the project's test data at scale factor ``sf``.
  The benchmark builds it once per checkout from a fixed seed, so the
  expected query results in ``expected.json`` stay valid.
* ``write_survey``: the survey job's inputs (online and offline survey
  CSVs, the census sheet and the three config sheets) from the run's seed,
  with the headers and vocabulary of ``src/test/resources/fixtures`` and
  ``SurveyConfig.kingston``.  Every likert column is present, and the
  value mix reaches every recode and every ``Is_Invalid`` branch.

The same seed always gives byte-identical files.
"""
import csv
import datetime as dt
import io
import os

import numpy as np

TABLE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]


def _days(a, b):
    return (dt.date.fromisoformat(b) - dt.date.fromisoformat(a)).days


def _ts_us(start, offsets_us):
    base = int(dt.datetime.fromisoformat(start)
               .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return np.asarray(offsets_us, dtype=np.int64) + base


def table_arrays(sf, seed=TABLE_SEED):
    """Return {table: {column: numpy array or list}} for scale factor sf."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day_us = 86_400 * 1_000_000
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": list(REGIONS)}
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                   "n_regionkey": (nk % 5).astype(np.int32)}

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(
            0, _days("1995-01-01", "2001-08-01") + 1, n_ord) * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(
            0, _days("1995-01-02", "2001-11-04") + 1, n_line) * day_us)}
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_evt))),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": ['{"k": %d}' % i for i in rng.integers(0, 100, n_evt)]}
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), n_words)))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 0.6, (10, 64))
    vecs = rng.normal(0, 1, (n_vecs, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(n_vecs, dtype=np.int64),
                       "embedding": [v for v in vecs],
                       "label": labels.astype(np.int32)}
    return t


def write_tables(out_dir, sf, seed=TABLE_SEED):
    """Write every table as <out_dir>/<name>.parquet (one row group)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    ts_cols = {"o_orderdate", "l_shipdate", "ts"}
    for name, cols in table_arrays(sf, seed).items():
        arrays = {}
        for c, v in cols.items():
            if c in ts_cols:
                arrays[c] = pa.array(v, type=pa.timestamp("us"))
            elif c == "embedding":
                arrays[c] = pa.array([x.tolist() for x in v],
                                     type=pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)


# ---- survey job inputs --------------------------------------------------

LIKERT_COLUMNS = [
    "Safety: Impact my safety",
    "Resources: Information and opportunities",
    "Resources: Food, sleep, housing",
    "Resources: Ability to pay my bills",
    "Resources: Ability to have fun",
    "Mastery: Skill and confidence",
    "Mastery: Control and choice",
    "Mastery: Rights are protected",
    "Social: Feeling I belong here",
    "Social: Connect with people",
    "Social: Take care of people",
    "Social: Knowledge that I matter",
    "Stability: Stick to my routines",
    "Stability: Things are about to fall apart",
    "Stability: Deal with life hassles"]
OPEN_TEXT = "Open Text: What would make things better?"
YEARS = "How many years lived in Kingston"
WHY = "Why are you interested in this project?"
EXPENSES = ("In a typical month, how difficult is it for your household to "
            "pay for usual household expenses?")
LIVING = "Current living situation"
PREFER_NOT = "I prefer not to answer this question"

# (value, weight) vocabularies; "" is a missing cell (read back as null)
VOCAB = {
    "Survey Completed?": [("Complete", 80), ("Partial", 8),
                          ("Disqualified", 4), ("Abandoned", 4), ("", 4)],
    "Survey Link Used": [("Live link", 94), ("Test link", 3), ("Test", 3)],
    "Alchemer Admin Comments": [("", 88), ("ok", 3), ("OK", 2), ("valid", 2),
                                ("VALID", 2), ("needs review", 3)],
    "IP Address - Country": [("United States", 90), ("Canada", 6),
                             ("Mexico", 4)],
    "Q5: Gender": [("Male", 35), ("Female", 35), ("Non-binary", 8),
                   ("Prefer not to say", 8), ("Write In", 6), ("", 8)],
    "Race/Ethnicity": [("White", 35), ("Black or African American", 25),
                       ("Asian", 12),
                       ("Some other race (please write it in here)", 10),
                       (PREFER_NOT, 8), ("", 10)],
    "Hispanic or Latinx": [("No", 70), ("Yes", 20), (PREFER_NOT, 5), ("", 5)],
    "Household Income": [("Less than $20,000", 18), ("$20,000 to $49,999", 22),
                         ("$50,000 to $99,999", 28), ("$100,000 or more", 17),
                         (PREFER_NOT, 10), ("", 5)],
    "Survey Language": [("English", 70), ("Spanish", 30)],
    "CM Name": [("CM A", 18), ("CM B", 18), ("CM C", 18), ("CM D", 18),
                ("CM E", 14), ("", 9), ("  ", 5)],
    OPEN_TEXT: [("More parks", 20), ("Better buses", 20), ("No comment", 10),
                ("N/A!", 8), ("nan", 6), ("not really", 6), ("none", 6),
                ("itâ€™s fine Ã", 8), ("", 16)],
    "Internal Notes": [("keep", 90), ("", 10)],
    YEARS: [("Less than 1 year", 20), ("1 to 5 years", 30),
            ("More than 10 years", 30), (PREFER_NOT, 10), ("", 10)],
    WHY: [("To help my neighbors", 40), ("Curious", 30), (PREFER_NOT, 15),
          ("", 15)],
    EXPENSES: [("Very difficult", 25), ("Somewhat difficult", 35),
               ("Not at all difficult", 25), (PREFER_NOT, 10), ("", 5)],
    LIVING: [("Renting", 40), ("Own home", 35), ("Prefer not to say", 10),
             ("  ", 5), ("", 10)],
}
LIKERT_VOCAB = [("No change", 30), ("A little better", 20),
                ("A lot better", 12), ("A little worse", 15),
                ("A lot worse", 10), ("meh", 5), ("", 8)]

ONLINE_HEADER = (
    ["Response ID", "Time Started", "Survey Date Submitted",
     "Survey Completed?", "Survey Link Used", "Alchemer Admin Comments",
     "IP Address - Country", "IP Address - Zip Code", "Age", "Q5: Gender",
     "Race/Ethnicity", "Hispanic or Latinx", "Household Income",
     "Survey Language", "CM Name", OPEN_TEXT, YEARS, WHY, EXPENSES, LIVING]
    + LIKERT_COLUMNS + ["Internal Notes"])
OFFLINE_HEADER = (
    ["Response ID", "Survey Completed?", "Survey Link Used",
     "Alchemer Admin Comments", "IP Address - Country", "Age", "Q5: Gender",
     "Survey Language", "Household Income", "Race/Ethnicity",
     "Hispanic or Latinx", "CM Name"] + LIKERT_COLUMNS)

CENSUS = [
    ("Gender", ["Male", "Female", "Non-binary", "Other", "Unknown",
                "Two-spirit"]),
    ("Age", ["10 to 17 years old", "18 to 29 years old", "30 to 44 years old",
             "45 to 59 years old", "60 to 74 years old",
             "75 years and older", "Unknown"]),
    ("Race/Ethnicity", ["White", "Black or African American", "Asian",
                        "Hispanic or Latinx", "Other race", "Unknown",
                        "Two or more races"]),
    ("Household Income", ["Less than $50,000", "$50,000 to $99,999",
                          "$100,000 or more", "Unknown"]),
    ("Language", ["English", "Spanish", "French"]),
]


def _pick(rng, vocab, n):
    values = [v for v, _ in vocab]
    w = np.array([p for _, p in vocab], dtype=np.float64)
    return [values[i] for i in rng.choice(len(values), n, p=w / w.sum())]


def _zip_codes(rng, n):
    kind = rng.choice(5, n, p=[0.80, 0.08, 0.04, 0.04, 0.04])
    digits = rng.integers(10000, 99999, n)
    plus4 = rng.integers(1000, 9999, n)
    out = []
    for k, d, p in zip(kind, digits, plus4):
        out.append((str(d), f"{d}-{p}", "00000", "abcde", "")[k])
    return out


def _ages(rng, n):
    kind = rng.choice(4, n, p=[0.92, 0.03, 0.03, 0.02])
    ages = rng.integers(-1, 131, n)
    return [(str(a), "abc", "", "0")[k] for k, a in zip(kind, ages)]


def _times(rng, n):
    """(Time Started, Survey Date Submitted) strings in MM/dd/yyyy h:mm:ss a,
    with a few malformed or out-of-range values."""
    start = rng.integers(0, 365 * 86_400, n)
    took = rng.integers(60, 3 * 3600, n)
    kind = rng.choice(4, n, p=[0.94, 0.02, 0.02, 0.02])
    base = dt.datetime(2025, 1, 1)

    def fmt(sec):
        t = base + dt.timedelta(seconds=int(sec))
        h12 = t.hour % 12 or 12
        return (f"{t.month:02d}/{t.day:02d}/{t.year} {h12}:{t.minute:02d}:"
                f"{t.second:02d} {'AM' if t.hour < 12 else 'PM'}")

    out = []
    for s, d, k in zip(start, took, kind):
        if k == 0:
            out.append((fmt(s), fmt(s + d)))
        elif k == 1:
            out.append(("02/30/2025 1:05:00 PM", fmt(s + d)))
        elif k == 2:
            out.append(("not a timestamp", fmt(s + d)))
        else:
            out.append(("", ""))
    return out


def _csv_bytes(header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode("utf-8")


def survey_files(seed, n_online, n_offline):
    """Return {file name: bytes} for the survey job's inputs."""
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    on = {c: _pick(rng, v, n_online) for c, v in VOCAB.items()}
    likert_on = [_pick(rng, LIKERT_VOCAB, n_online) for _ in LIKERT_COLUMNS]
    zips, ages, times = (_zip_codes(rng, n_online), _ages(rng, n_online),
                         _times(rng, n_online))
    online = []
    for i in range(n_online):
        online.append(
            [str(i + 1), times[i][0], times[i][1]]
            + [on[c][i] for c in ONLINE_HEADER[3:7]]
            + [zips[i], ages[i]]
            + [on[c][i] for c in ONLINE_HEADER[9:20]]
            + [col[i] for col in likert_on] + [on["Internal Notes"][i]])
    off = {c: _pick(rng, VOCAB[c], n_offline) for c in OFFLINE_HEADER[1:12]
           if c != "Age"}
    off_ages = _ages(rng, n_offline)
    likert_off = [_pick(rng, LIKERT_VOCAB, n_offline) for _ in LIKERT_COLUMNS]
    offline = []
    for i in range(n_offline):
        offline.append(
            [str(n_online + i + 1)]
            + [off_ages[i] if c == "Age" else off[c][i]
               for c in OFFLINE_HEADER[1:12]]
            + [col[i] for col in likert_off])
    census = []
    for demo, cats in CENSUS:
        shares = rng.dirichlet(np.ones(len(cats))) * 100
        for j, (cat, share) in enumerate(zip(cats, shares)):
            order = "" if rng.random() < 0.2 else str(j + 1)
            census.append([demo, cat, f"{int(round(share))}%", order])
    return {
        "survey_online.csv": _csv_bytes(ONLINE_HEADER, online),
        "survey_offline.csv": _csv_bytes(OFFLINE_HEADER, offline),
        "census.csv": _csv_bytes(
            ["Demographic", "Category", "Census %", "Display Order"], census),
        "config_renames.csv": _csv_bytes(
            ["column_in_kingston_csv", "standard_column_name"],
            [["Q5: Gender", "Gender"]]),
        "config_drops.csv": _csv_bytes(["cols_delete"], [["Internal Notes"]]),
        "config_open_text.csv": _csv_bytes(["open_text_columns"], [[OPEN_TEXT]]),
    }


def write_survey(out_dir, seed, n_online, n_offline):
    os.makedirs(out_dir, exist_ok=True)
    for name, data in survey_files(seed, n_online, n_offline).items():
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
