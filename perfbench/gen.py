"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments give byte-identical files (``tests/test_perfbench.py``
hashes two runs). Each returns a manifest dict — what was planted, plus
input rows and bytes — that the workload's correctness check reads. The
program under test only ever sees the files.

* ``survey_inputs``: Alchemer-shaped online/offline CSVs, census and
  config sheets. Every demographic answer is drawn from a table of
  (raw answer, category the reference recodes it to), and every row
  from a table of validity cases, so the expected per-category valid
  counts are known without re-running any recode logic.
* ``stream_batches``: document and vector micro-batches with planted
  near-duplicate pairs, inside a batch and across batches.
* ``tpch_tables``: the ten parquet tables the registry queries read,
  in the shapes of the engine's test data (tools/gen_testdata.py).
"""

from __future__ import annotations

import csv
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- survey

LIKERT_COLS = [
    "Safety: Impact my safety", "Resources: Information and opportunities",
    "Resources: Food, sleep, housing", "Resources: Ability to pay my bills",
    "Resources: Ability to have fun", "Mastery: Skill and confidence",
    "Mastery: Control and choice", "Mastery: Rights are protected",
    "Social: Feeling I belong here", "Social: Connect with people",
    "Social: Take care of people", "Social: Knowledge that I matter",
    "Stability: Stick to my routines", "Stability: Things are about to fall apart",
    "Stability: Deal with life hassles",
]
LIKERT_ANSWERS = ["No change", "A little better", "A lot better", "A little worse", "A lot worse"]

# (raw answer, category after the reference recode); "" is a blank cell
GENDER = [("Woman", "Woman"), ("Man", "Man"), ("Non-binary", "Non-binary"),
          ("Write In", "Other"), ("Prefer not to say", "Unknown"), ("", "Unknown")]
AGE = [("8", "Less than 10 years old"), ("15", "10 to 17 years old"),
       ("24", "18 to 29 years old"), ("37", "30 to 44 years old"),
       ("52", "45 to 59 years old"), ("66", "60 to 74 years old"),
       ("81", "75 years and older"), ("0", "Unknown"), ("", "Unknown")]
RACE = [("White", "White"), ("Black or African American", "Black or African American"),
        ("Asian", "Asian"), ("Some other race (please write it in here)", "Other race"),
        ("I prefer not to answer this question", "Unknown")]
INCOME = [("Less than $20,000", "Less than $50,000"),
          ("$20,000 to $49,999", "Less than $50,000"),
          ("$50,000 to $74,999", "$50,000 to $74,999"),
          ("$75,000 or more", "$75,000 or more"),
          ("I prefer not to answer this question", "Unknown"), ("", "Unknown")]
LANGUAGE = [("English", "English"), ("Spanish", "Spanish")]
CM_NAME = [("Alice", "Alice"), ("Bob", "Bob"), ("Chen", "Chen"), ("", "Unknown")]
# rollup demographic name -> (survey column, answer table)
DEMOGRAPHICS = {
    "Gender": ("Gender", GENDER),
    "Age": ("Age", AGE),
    "Race/Ethnicity": ("Race/Ethnicity", RACE),
    "Household Income": ("Household Income", INCOME),
    "Language": ("Survey Language", LANGUAGE),
    "CM Name": ("CM Name", CM_NAME),
}
# (admin comment, completion, link, country, is valid) — one row per
# branch of the reference's first-match-wins validity cascade
VALIDITY = [
    ("", "Complete", "Email", "United States", True),
    ("OK", "Partial", "Email", "Canada", True),
    ("", "Partial", "Email", "United States", False),
    ("", "Disqualified", "Email", "United States", False),
    ("", "Complete", "Test link", "United States", False),
    ("", "Complete", "Email", "Canada", False),
]
VALIDITY_WEIGHTS = [70, 4, 10, 5, 5, 6]
OPEN_TEXT = "Anything else you want to tell us?"
EXTRA_TEXT = [f"Comment {i}" for i in range(1, 7)]
TEXT_WORDS = ("the bus stop near my home is far and the park needs lights "
              "more programs for kids would help our block feel safer").split()
NULLISH = ["n/a", "None", "no comment", "nan", "-"]
SURVEY_COLS = [
    "Response ID", "Time Started", "Survey Date Submitted", "Hispanic or Latinx",
    "Race/Ethnicity", "Gender", "CM Name", "Current living situation",
    "How many years lived in Kingston", "Why are you interested in this project?",
    "In a typical month, how difficult is it for your household to pay for usual household expenses?",
    "IP Address - Zip Code", "IP Address - Country", "Age", "Household Income",
    "Survey Language", "Alchemer Admin Comments", "Survey Completed?",
    "Survey Link Used", OPEN_TEXT, "SessionID",
] + LIKERT_COLS + EXTRA_TEXT


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(TEXT_WORDS) for _ in range(rng.randint(6, 14))]
    if rng.random() < 0.1:
        words[0] = "itâ€™s"  # mojibake the cleaning pass repairs
    return " ".join(words)


def _survey_row(rng: random.Random, rid: int, expect: dict) -> dict:
    hispanic = rng.random() < 0.15
    race_raw, race_cat = rng.choice(RACE)
    row = {
        "Response ID": str(rid),
        "Hispanic or Latinx": "Yes" if hispanic else rng.choice(["No", "I prefer not to answer this question"]),
        "Race/Ethnicity": race_raw,
        "Current living situation": rng.choice(["Renting", "Own home", "Prefer not to say", ""]),
        "How many years lived in Kingston": str(rng.randint(0, 40)),
        "Why are you interested in this project?": _sentence(rng),
        "In a typical month, how difficult is it for your household to pay for usual household expenses?":
            rng.choice(["Somewhat", "Very", "Not at all", ""]),
        "IP Address - Zip Code": f"{rng.randint(10000, 99999)}-{rng.randint(1000, 9999)}",
        OPEN_TEXT: rng.choice(NULLISH) if rng.random() < 0.2 else _sentence(rng),
        "SessionID": f"s{rng.getrandbits(48):012x}",
    }
    cats = {"Race/Ethnicity": "Hispanic or Latinx" if hispanic else race_cat}
    for demo, (col, table) in DEMOGRAPHICS.items():
        if col == "Race/Ethnicity":
            continue
        raw, cat = rng.choice(table)
        row[col] = raw
        cats[demo] = cat
    month, day = rng.randint(1, 12), rng.randint(1, 28)
    hour, minute = rng.randint(1, 11), rng.randint(0, 29)
    ampm = rng.choice(["AM", "PM"])
    row["Time Started"] = f"{month:02d}/{day:02d}/2024 {hour}:{minute:02d}:{rng.randint(0, 59):02d} {ampm}"
    row["Survey Date Submitted"] = f"{month:02d}/{day:02d}/2024 {hour}:{minute + 30:02d}:{rng.randint(0, 59):02d} {ampm}"
    admin, completed, link, country, valid = rng.choices(VALIDITY, VALIDITY_WEIGHTS)[0]
    row.update({"Alchemer Admin Comments": admin, "Survey Completed?": completed,
                "Survey Link Used": link, "IP Address - Country": country})
    row.update({c: rng.choice(LIKERT_ANSWERS) for c in LIKERT_COLS})
    row.update({c: _sentence(rng) for c in EXTRA_TEXT})
    if valid:
        expect["valid"] += 1
        for demo, cat in cats.items():
            key = f"{demo}|{cat}"
            expect["roll_up"][key] = expect["roll_up"].get(key, 0) + 1
    return row


def _write_csv(path: str, cols: list[str], rows: list[dict]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=cols, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def survey_inputs(out_dir: str, seed: int, n_online: int, n_offline: int) -> dict:
    """Write online.csv, offline.csv, census.csv and the three config
    sheets under ``out_dir``. The manifest holds the planted counts:
    ``bronze`` rows, ``valid`` rows and ``roll_up`` — valid responses
    per "Demographic|Category"."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    expect: dict = {"valid": 0, "roll_up": {}}
    online = [_survey_row(rng, i + 1, expect) for i in range(n_online)]
    offline = [_survey_row(rng, i + 1, expect) for i in range(n_offline)]
    paths = {name: os.path.join(out_dir, f"{name}.csv") for name in
             ("online", "offline", "census", "open_text", "deletes", "renames")}
    _write_csv(paths["online"], SURVEY_COLS, online)
    _write_csv(paths["offline"], SURVEY_COLS, offline)
    census = []
    for demo, (_, table) in DEMOGRAPHICS.items():
        cats = sorted({cat for _, cat in table if cat != "Unknown"}) + ["Census only"]
        shares = [rng.randint(5, 40) for _ in cats]
        for order, (cat, share) in enumerate(zip(cats, shares), start=1):
            census.append({"Demographic": demo, "Category": cat,
                           "Census %": f"{100 * share / sum(shares):.1f}%",
                           "Display Order": str(order)})
    _write_csv(paths["census"], ["Demographic", "Category", "Census %", "Display Order"], census)
    _write_csv(paths["open_text"], ["open_text_columns"],
               [{"open_text_columns": c} for c in [OPEN_TEXT] + EXTRA_TEXT])
    _write_csv(paths["deletes"], ["cols_delete"], [{"cols_delete": "SessionID"}])
    _write_csv(paths["renames"], ["column_in_csv", "rename_to"],
               [{"column_in_csv": "Comment 6", "rename_to": "Final comment"}])
    return {
        "paths": paths,
        "bronze": n_online + n_offline,
        "valid": expect["valid"],
        "roll_up": expect["roll_up"],
        "census_only": [f"{d}|Census only" for d in DEMOGRAPHICS],
        "input_rows": n_online + n_offline,
        "input_bytes": sum(os.path.getsize(p) for p in paths.values()),
    }


# ------------------------------------------------------------- streaming

_SYLLABLES = ["ka", "to", "ri", "mu", "se", "lo", "pa", "ne", "vi", "du",
              "ga", "fe", "zo", "hi", "qu", "ba", "ty", "wo", "xe", "ju"]
VEC_DIM = 32
VEC_CLUSTERS = 8


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _near_dup(rng: random.Random, text: str, vocab: list[str]) -> str:
    """One word replaced: char-5-shingle Jaccard stays above ~0.93 for
    the generated lengths, so the pinned LSH split finds it."""
    words = text.split()
    i = rng.randrange(len(words))
    words[i] = rng.choice([w for w in vocab[:50] if w != words[i]])
    return " ".join(words)


def stream_batches(
    seed: int, n_batches: int, docs_per_batch: int, vecs_per_batch: int,
    in_batch_dups: int, cross_batch_dups: int,
) -> dict:
    """In-memory micro-batches: ``docs[b]`` rows ``{doc_id, text}`` and
    ``vecs[b]`` rows ``{vec_id, embedding}``. ``pairs`` lists every
    planted (source id, duplicate id): a duplicate's source is an
    original document of the same batch or of an earlier one, and no
    original is the source of two duplicates, so every planted pair is
    one clean audit row."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocab = _vocab(rng, 600)
    centers = nrng.normal(0, 1, (VEC_CLUSTERS, VEC_DIM))
    docs, vecs, pairs = [], [], []
    free_originals: list[tuple[int, str]] = []  # earlier-batch sources
    next_id = 0
    for b in range(n_batches):
        rows = []
        originals = docs_per_batch - in_batch_dups - (cross_batch_dups if b else 0)
        for _ in range(originals):
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(70, 100)))
            rows.append({"doc_id": next_id, "text": text})
            next_id += 1
        sources = rng.sample(range(len(rows)), in_batch_dups)
        for s in sources:
            rows.append({"doc_id": next_id, "text": _near_dup(rng, rows[s]["text"], vocab)})
            pairs.append((rows[s]["doc_id"], next_id))
            next_id += 1
        if b:
            for k in rng.sample(range(len(free_originals)), cross_batch_dups):
                src_id, src_text = free_originals[k]
                rows.append({"doc_id": next_id, "text": _near_dup(rng, src_text, vocab)})
                pairs.append((src_id, next_id))
                next_id += 1
            used = {p[0] for p in pairs}
            free_originals = [o for o in free_originals if o[0] not in used]
        used = {p[0] for p in pairs}
        free_originals += [(r["doc_id"], r["text"]) for r in rows[:originals]
                           if r["doc_id"] not in used]
        docs.append(rows)
        labels = nrng.integers(0, VEC_CLUSTERS, vecs_per_batch)
        v = centers[labels] + nrng.normal(0, 0.4, (vecs_per_batch, VEC_DIM))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        base = b * vecs_per_batch
        vecs.append([{"vec_id": base + i, "embedding": [round(float(x), 6) for x in row]}
                     for i, row in enumerate(v)])
    return {"docs": docs, "vecs": vecs, "pairs": pairs}


def write_jsonl(path: str, rows: list[dict]) -> None:
    """Land one batch file whole: written aside, then renamed in, so a
    stream never lists a half-written file."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")
    os.replace(tmp, path)


# -------------------------------------------------------------- tpch-ish

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
NOUN = ["ring", "bolt", "screw", "plate", "wheel", "gear", "pin", "cap"]
DOC_VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream table "
             "the value vector window").split()
# rows per table, as in the engine's sf0.01 test data
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15_000,
        "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}
EVENT_USERS = 150
EPOCH_1995 = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - EPOCH_1995).astype(int))
EV_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EV_SPAN_US = 30 * 24 * 3600 * 1_000_000


def _days_ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def tpch_tables(out_dir: str, seed: int) -> dict:
    """Write ``<table>.parquet`` for the ten test-data tables at the
    sf0.01 row counts (the registry oracles pin parameters, such as the
    IVF cell count, that assume them); returns
    ``{"rows": {table: n}, "input_rows": .., "input_bytes": ..}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = ROWS
    tables: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    nc, ns, npart, no, nl = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10000, ns), 2),
    })
    pk = np.arange(npart)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[i % 8]} {NOUN[(i // 8) % 8]}" for i in range(npart)],
        "p_brand": [f"Brand#{1 + (i % 25)}" for i in range(npart)],
        "p_type": _pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    odays = rng.integers(0, ORDER_DAYS + 1, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": _days_ts(odays),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    l_ok = rng.integers(0, no, nl)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days_ts(odays[l_ok] + rng.integers(1, 96, nl)),
    })
    ne = n["events"]
    ts_us = np.sort(rng.integers(0, EV_SPAN_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(EV_EPOCH + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(np.minimum(rng.exponential(50, ne), 600.0), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    rows = {name: t.num_rows for name, t in tables.items()}
    return {
        "rows": rows,
        "input_rows": sum(rows.values()),
        "input_bytes": sum(os.path.getsize(os.path.join(out_dir, f"{t}.parquet")) for t in tables),
    }


def _documents(rng, nd: int) -> pa.Table:
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), ln)]) for ln in rng.integers(8, 105, nd)]
    # ~1% near-dups (1-2 word edits of an earlier doc) + ~0.2% exact dups
    for i in rng.choice(np.arange(nd // 10, nd), max(1, nd // 100), replace=False):
        src = texts[int(i) - nd // 10].split()
        for _ in range(int(rng.integers(1, 3))):
            src[int(rng.integers(0, len(src)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[int(i)] = " ".join(src)
    for i in rng.choice(np.arange(1, nd), max(1, nd // 500), replace=False):
        texts[int(i)] = texts[int(i) - 1]
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=LANG_P)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, nv: int) -> pa.Table:
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(0, 0.35, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
