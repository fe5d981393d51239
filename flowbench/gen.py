"""Seeded workload generator for the flow benchmark.

Reads the synthetic TPC-H-style tables under a test-data directory
(read-only) and writes one workload's inputs into an output directory:

  study-bundles     participant/orders/lineitem CSVs, their data-dictionary
                    CSVs, one harmony CSV, study.yaml, and expected.json
                    (per-type resource counts derived from the generated
                    files alone, for the output checks)
  study-load        whistle-output.json (Patient, Observation, CodeSystem
                    modules), fhir_hosts naming the stub, expected.json
  study-reload      as study-load, plus edits/<k>/whistle-output.json with a
                    seed-chosen 5 % of observations edited, one per replay
  curation-batches  batches/<i>.parquet, eval.parquet, and
                    expected.json (batch kinds: plain, hot, replay)

It imports nothing from the program under test, so a program change cannot
move generation time.

  python3 flowbench/gen.py --workload study-load --seed 7 --out DIR \
      --testdata TESTDATA_ROOT [--scale sf0.01] [--port 8080]
"""

import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

STUDY_ID = "FLOWBENCH"
PREFIX = "https://flowbench.example.org/fhir"

# workload -> default test-data scale
SCALES = {"study-bundles": "sf0.1", "study-load": "sf0.01", "study-reload": "sf0.01",
          "curation-batches": "sf0.1"}
STUDY_SUBJECTS = 1000
LOAD_SUBJECTS = 200
LOAD_OBSERVATIONS = 1000
RELOAD_EDIT_SETS = 8
RELOAD_EDIT_FRACTION = 0.05
CURATION_DOCS = 700       # corpus docs sampled into the batches
CURATION_BATCHES = 6      # batches offered, the replay included
CURATION_HOT = (2, 4)     # batches carrying a near-duplicate cluster
CURATION_RESENT = 6       # earlier docs re-sent per batch under new ids
CURATION_CLUSTER = 250    # near-duplicate cluster size of a hot batch


def read(testdata, scale, table):
    return pq.read_table(os.path.join(testdata, scale, f"{table}.parquet"))


def write_csv(path, columns):
    """columns: list of (name, list-or-array of str)."""
    table = pa.table({n: pa.array([str(v) for v in vals], pa.string())
                      for n, vals in columns})
    pacsv.write_csv(table, path)
    return table.num_rows


def write_text(path, text):
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


# ---------------------------------------------------------------- study

PARTICIPANT_DD = [
    ("subject_id", "Participant identifier", "string", ""),
    ("name", "Participant name", "string", ""),
    ("nation", "Nation of residence", "enumeration", None),  # filled below
    ("segment", "Market segment", "enumeration", None),
    ("acct_balance", "Account balance", "number", ""),
]
ORDERS_DD = [
    ("subject_id", "Participant identifier", "string", ""),
    ("order_id", "Order identifier", "string", ""),
    ("order_status", "Order status", "enumeration", "F=Fulfilled;O=Open;P=Partial"),
    ("priority", "Order priority", "enumeration", None),
    ("total_price", "Order total", "number", ""),
    ("order_date", "Order date", "string", ""),
]
LINEITEM_DD = [
    ("subject_id", "Participant identifier", "string", ""),
    ("order_id", "Order identifier", "string", ""),
    ("line_number", "Line number", "integer", ""),
    ("quantity", "Quantity", "number", ""),
    ("extended_price", "Extended price", "number", ""),
    ("return_flag", "Return flag", "enumeration", "A=Accepted;N=None;R=Returned"),
]


def dd_csv(path, rows):
    lines = ["variable_name,description,data_type,enumerations"]
    for name, desc, dtype, enums in rows:
        lines.append(f"{name},{desc},{dtype},{enums}")
    write_text(path, "\n".join(lines) + "\n")


def study(args, rng, out):
    scale = args.scale
    cust = read(args.testdata, scale, "customer")
    orders = read(args.testdata, scale, "orders")
    items = read(args.testdata, scale, "lineitem")
    nation = read(args.testdata, scale, "nation")

    keys = np.sort(rng.choice(cust.column("c_custkey").to_numpy(),
                              size=min(STUDY_SUBJECTS, cust.num_rows), replace=False))
    cust = cust.filter(pc.is_in(cust.column("c_custkey"), pa.array(keys)))
    orders = orders.filter(pc.is_in(orders.column("o_custkey"), pa.array(keys)))
    items = items.filter(pc.is_in(items.column("l_orderkey"), orders.column("o_orderkey")))
    order_cust = dict(zip(orders.column("o_orderkey").to_pylist(),
                          orders.column("o_custkey").to_pylist()))

    nations = sorted(zip(nation.column("n_nationkey").to_pylist(),
                         nation.column("n_name").to_pylist()))
    segments = sorted(set(cust.column("c_mktsegment").to_pylist()))
    priorities = sorted(set(orders.column("o_orderpriority").to_pylist()))

    # data-dictionary enumerations: local code = display text
    enums = {
        "nation": ";".join(f"N{k}={n}" for k, n in nations),
        "segment": ";".join(f"{s}={s.title()}" for s in segments),
        "priority": ";".join(f"{p}={p.split('-', 1)[1].title()}" for p in priorities),
    }
    fill = lambda rows: [(n, de, t, enums.get(n, e) if e is None else e) for n, de, t, e in rows]
    dds = {"participant": fill(PARTICIPANT_DD), "orders": fill(ORDERS_DD),
           "lineitem": fill(LINEITEM_DD)}
    for t, rows in dds.items():
        dd_csv(os.path.join(out, f"{t}_dd.csv"), rows)

    # one harmony file shared by every table
    harmony = ["local code,text,table_name,parent_varname,local code system,code,display,code system"]
    for k, n in nations:
        harmony.append(f"N{k},{n},participant,nation,nation,{n.lower()},{n},"
                       "https://flowbench.example.org/nations")
    for s in segments:
        harmony.append(f"{s},{s.title()},participant,segment,segment,{s.lower()},{s.title()},"
                       "https://flowbench.example.org/segments")
    for p in priorities:
        code, text = p.split("-", 1)
        harmony.append(f"{p},{text.title()},orders,priority,priority,p{code},{text.title()},"
                       "https://flowbench.example.org/priorities")
    for t in ("participant", "orders"):
        harmony.append(f"{t},{t.title()},{t},,DataSet,{t},{t.title()},"
                       "https://flowbench.example.org/tables")
    write_text(os.path.join(out, "harmony.csv"), "\n".join(harmony) + "\n")

    subj = lambda k: f"P{k}"
    participant = [
        ("subject_id", [subj(k) for k in cust.column("c_custkey").to_pylist()]),
        ("name", cust.column("c_name").to_pylist()),
        ("nation", [f"N{k}" for k in cust.column("c_nationkey").to_pylist()]),
        ("segment", cust.column("c_mktsegment").to_pylist()),
        ("acct_balance", [f"{v:.2f}" for v in cust.column("c_acctbal").to_pylist()]),
    ]
    order_rows = [
        ("subject_id", [subj(k) for k in orders.column("o_custkey").to_pylist()]),
        ("order_id", [f"O{k}" for k in orders.column("o_orderkey").to_pylist()]),
        ("order_status", orders.column("o_orderstatus").to_pylist()),
        ("priority", orders.column("o_orderpriority").to_pylist()),
        ("total_price", [f"{v:.2f}" for v in orders.column("o_totalprice").to_pylist()]),
        ("order_date", [str(v)[:10] for v in orders.column("o_orderdate").to_pylist()]),
    ]
    item_rows = [
        ("subject_id", [subj(order_cust[k]) for k in items.column("l_orderkey").to_pylist()]),
        ("order_id", [f"O{k}" for k in items.column("l_orderkey").to_pylist()]),
        ("line_number", items.column("l_linenumber").to_pylist()),
        ("quantity", [f"{v:.0f}" for v in items.column("l_quantity").to_pylist()]),
        ("extended_price", [f"{v:.2f}" for v in items.column("l_extendedprice").to_pylist()]),
        ("return_flag", items.column("l_returnflag").to_pylist()),
    ]
    tables = {"participant": participant, "orders": order_rows, "lineitem": item_rows}
    rows = {t: write_csv(os.path.join(out, f"{t}.csv"), cols) for t, cols in tables.items()}

    study_yaml = f"""study_id: {STUDY_ID}
study_title: Flow benchmark study
identifier_prefix: {PREFIX}
dataset:
  participant:
    filename: participant.csv
    data_dictionary:
      filename: participant_dd.csv
    code_harmonization: harmony.csv
  orders:
    filename: orders.csv
    group_by: subject_id
    data_dictionary:
      filename: orders_dd.csv
    code_harmonization: harmony.csv
  lineitem:
    filename: lineitem.csv
    embed:
      dataset: orders
      colname: subject_id
    data_dictionary:
      filename: lineitem_dd.csv
"""
    write_text(os.path.join(out, "study.yaml"), study_yaml)

    # expected resource counts, from the generated files alone:
    #  - source data: participant is a plain table (one Observation and one
    #    QuestionnaireResponse per row); orders is grouped by subject (one
    #    per distinct subject); lineitem rides embedded inside orders
    #  - Patient: distinct subjects over the projected tables
    #  - DD metadata: a CodeSystem+ValueSet per table and per enumeration,
    #    an ObservationDefinition per variable, an ActivityDefinition per
    #    table; the harmony file adds a ConceptMap and two ValueSets
    order_subjects = set(tables["orders"][0][1])
    patients = set(tables["participant"][0][1]) | order_subjects
    n_enum = sum(1 for rows_ in dds.values() for r in rows_ if r[2] == "enumeration")
    n_vars = sum(len(rows_) for rows_ in dds.values())
    data_rows = rows["participant"] + len(order_subjects)
    expected = {
        "resources": {
            "Patient": len(patients),
            "Observation": data_rows,
            "QuestionnaireResponse": data_rows,
            "CodeSystem": len(dds) + n_enum,
            "ValueSet": len(dds) + n_enum + 2,
            "ObservationDefinition": n_vars,
            "ActivityDefinition": len(dds),
            "ConceptMap": 1,
        },
        "input_rows": sum(rows.values()),
    }
    return expected


# ----------------------------------------------------------------- load

def ident(rtype, value):
    return {"system": f"{PREFIX}/{rtype.lower()}", "value": value}


def load_doc(args, rng, out):
    """A whistle-output document (`{module: [resources]}`) for `loadfhir`:
    a Patient per sampled customer, an Observation per order referencing
    its Patient by identifier, and a CodeSystem of order priorities."""
    scale = args.scale
    cust = read(args.testdata, scale, "customer")
    orders = read(args.testdata, scale, "orders")
    # a fixed number of subjects (among customers with orders) and of
    # observations (sampled from their orders): every seed loads the same
    # number of resources
    buyers = np.unique(orders.column("o_custkey").to_numpy())
    keys = np.sort(rng.choice(buyers, size=min(LOAD_SUBJECTS, len(buyers)), replace=False))
    cust = cust.filter(pc.is_in(cust.column("c_custkey"), pa.array(keys)))
    orders = orders.filter(pc.is_in(orders.column("o_custkey"), pa.array(keys)))
    pick = np.sort(rng.choice(orders.num_rows, size=min(LOAD_OBSERVATIONS, orders.num_rows),
                              replace=False))
    orders = orders.take(pa.array(pick))
    meta = {"tag": [{"system": f"{PREFIX}/researchstudy", "code": STUDY_ID}]}

    def patient(k, nation, segment):
        return {"resourceType": "Patient", "id": f"P{k}", "meta": meta,
                "identifier": [dict(ident("Patient", f"P{k}"), use="official")],
                "extension": [{"url": f"{PREFIX}/nation", "valueString": f"N{nation}"},
                              {"url": f"{PREFIX}/segment", "valueString": segment}]}

    def observation(o, k, priority, price, day):
        return {"resourceType": "Observation", "id": f"O{o}", "meta": meta,
                "identifier": [dict(ident("Observation", f"O{o}"), use="official")],
                "status": "final",
                "code": {"coding": [{"system": f"{PREFIX}/priority", "code": priority}],
                         "text": "Order total"},
                "subject": {"identifier": ident("Patient", f"P{k}")},
                "effectiveDateTime": day,
                "valueQuantity": {"value": price, "unit": "USD"}}

    patients = [patient(k, n, s) for k, n, s in zip(
        cust.column("c_custkey").to_pylist(), cust.column("c_nationkey").to_pylist(),
        cust.column("c_mktsegment").to_pylist())]
    obs_rows = list(zip(orders.column("o_orderkey").to_pylist(),
                        orders.column("o_custkey").to_pylist(),
                        orders.column("o_orderpriority").to_pylist(),
                        orders.column("o_totalprice").to_pylist(),
                        [str(v)[:10] for v in orders.column("o_orderdate").to_pylist()]))
    priorities = sorted(set(r[2] for r in obs_rows))
    codesystem = {"resourceType": "CodeSystem", "id": "priority", "meta": meta,
                  "identifier": [dict(ident("CodeSystem", "priority"), use="official")],
                  "url": f"{PREFIX}/priority", "status": "active", "content": "complete",
                  "concept": [{"code": p, "display": p.split("-", 1)[1].title()}
                              for p in priorities]}

    def write_doc(path, prices):
        doc = {"ddmeta": [codesystem], "patient": patients,
               "source_data": [observation(o, k, p, v, day)
                               for (o, k, p, _, day), v in zip(obs_rows, prices)]}
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f)

    prices = [round(r[3], 2) for r in obs_rows]
    write_doc(os.path.join(out, "whistle-output.json"), prices)
    if args.workload == "study-reload":
        # each replay edits a fresh seed-chosen 5 % of the observations
        for k in range(RELOAD_EDIT_SETS):
            edited = list(prices)
            pick = rng.choice(len(edited), size=max(1, int(len(edited) * RELOAD_EDIT_FRACTION)),
                              replace=False)
            for i in pick:
                edited[i] = round(edited[i] + 1.0 + k, 2)
            os.makedirs(os.path.join(out, "edits", str(k)))
            write_doc(os.path.join(out, "edits", str(k), "whistle-output.json"), edited)
    write_text(os.path.join(out, "fhir_hosts"), f"""stub:
  host_desc: Loopback stub FHIR server
  target_service_url: http://127.0.0.1:{args.port}/fhir
  auth_type: auth_basic
  username: bench
  password: bench
""")
    n = 1 + len(patients) + len(obs_rows)
    return {"resources": {"CodeSystem": 1, "Patient": len(patients),
                          "Observation": len(obs_rows)},
            "input_rows": n, "identifier_prefix": PREFIX}


# ------------------------------------------------------------- curation

def curation(args, rng, out):
    """Batches of a seed-chosen document sample, in arrival order:
    every batch re-sends a few earlier docs under new ids (exact dups of
    history), the CURATION_HOT batches (never in the first or last
    quarter, which batch_growth compares) carry a near-duplicate cluster,
    and a mid-flow batch replays an earlier one. An eval set (corpus
    docs, so decontamination has real hits) rides along."""
    docs = read(args.testdata, args.scale, "documents").select(["doc_id", "text"])
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    n = len(texts)
    order = rng.permutation(n)
    n_fresh = CURATION_BATCHES - 1
    per = min(CURATION_DOCS, n) // n_fresh
    splits = [order[i * per:(i + 1) * per] for i in range(n_fresh)]
    next_id = int(ids.max()) + 1

    def write(path, b_ids, b_texts):
        pq.write_table(pa.table({"doc_id": pa.array(b_ids, pa.int64()),
                                 "text": pa.array(b_texts, pa.string())}), path)

    used = np.concatenate(splits)
    eval_idx = rng.choice(used, size=max(2, len(used) // 50), replace=False)
    write(os.path.join(out, "eval.parquet"), [int(ids[i]) for i in eval_idx],
          [texts[i] for i in eval_idx])

    # the replay sits mid-flow and repeats a plain batch, so every seed
    # offers the same number of docs
    replay_at = CURATION_BATCHES // 2
    replay_of = int(rng.choice([b for b in range(replay_at) if b not in CURATION_HOT]))
    sent = []  # indices of docs delivered in earlier batches
    kinds = []
    batches = []
    fresh = iter(splits)
    for b in range(CURATION_BATCHES):
        if b == replay_at:
            # exact replay of an earlier batch: same ids, same texts
            batches.append(batches[replay_of])
            kinds.append("replay")
            continue
        idx_b = [int(i) for i in next(fresh)]
        b_ids = [int(ids[i]) for i in idx_b]
        b_texts = [texts[i] for i in idx_b]
        # re-sent docs: exact copies of earlier deliveries under new ids
        if sent:
            for i in rng.choice(sent, size=min(len(sent), CURATION_RESENT), replace=False):
                b_ids.append(next_id)
                next_id += 1
                b_texts.append(texts[int(i)])
        kind = "plain"
        if b in CURATION_HOT:
            # hot near-duplicate cluster: one fresh base text, CURATION_CLUSTER variants
            words = [str(w) for w in rng.permutation(texts[int(rng.integers(n))].split())]
            base_text = " ".join(words + ["cluster%d" % b])
            for v in range(CURATION_CLUSTER):
                b_ids.append(next_id)
                next_id += 1
                b_texts.append(base_text + " v%d" % v)
            kind = "hot"
        sent.extend(idx_b)
        kinds.append(kind)
        batches.append((b_ids, b_texts))
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir)
    for b, (b_ids, b_texts) in enumerate(batches):
        write(os.path.join(bdir, f"{b:03d}.parquet"), b_ids, b_texts)
    return {"kinds": kinds, "input_rows": sum(len(x[0]) for x in batches)}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(SCALES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--testdata", required=True, help="test-data root (sf*/ directories)")
    p.add_argument("--scale", default=None, help="test-data scale directory, e.g. sf0.01")
    p.add_argument("--port", type=int, default=0, help="study: stub FHIR server port")
    args = p.parse_args(argv)
    args.scale = args.scale or SCALES[args.workload]
    if not os.path.isdir(args.testdata):
        sys.exit(f"test data not found: {args.testdata}")
    os.makedirs(args.out, exist_ok=True)
    # one generator stream per (workload, seed); sha256 keeps it stable
    # across Python versions, unlike hash()
    salt = int(hashlib.sha256(args.workload.encode()).hexdigest()[:8], 16)
    rng = np.random.default_rng([args.seed, salt])
    make = {"study-bundles": study, "study-load": load_doc, "study-reload": load_doc,
            "curation-batches": curation}[args.workload]
    expected = make(args, rng, args.out)
    expected["workload"] = args.workload
    expected["seed"] = args.seed
    with open(os.path.join(args.out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
