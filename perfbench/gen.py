"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical files (see `digest`). The program under test only
ever receives the files written here.

- `documents`: a text corpus with ~5% near-duplicates and ~0.16% exact
  duplicates over a 30-word vocabulary, the marginals of
  `tools/gen_fixtures.py`.
- `loan_seeds`: the Fiction-Bank seeds (loan types, loans, payments) plus
  a series of payment batches for incremental runs, and the row counts a
  correct incremental merge and snapshot must produce.
"""
import csv
import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]

LOAN_TYPES = [
    (1, "Mortgage", "Primary residence home loan", 360, 50000, 1000000),
    (2, "Home Equity", "Home equity line of credit", 120, 10000, 500000),
    (3, "Personal", "Personal unsecured loan", 60, 1000, 50000)]
CITIES = ["Austin TX", "Dallas TX", "Denver CO", "Boise ID", "Reno NV"]
STREETS = ["Main St", "Oak Ave", "Elm St", "Pine Rd", "Cedar Ln"]


def documents(n_docs, seed):
    """Text corpus table; each document is seeded by (seed, doc_id)."""
    texts, langs, sources = [], [], []
    for i in range(n_docs):
        rng = random.Random(seed * 1_000_003 + i)
        r = rng.random()
        if i > 10 and r < 0.0016:  # exact duplicate of an earlier doc
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and r < 0.05:  # near duplicate: shared prefix, new tail
            src = texts[rng.randrange(i)].split(" ")
            keep = max(12, len(src) * 2 // 3)
            tail = ["dup"] + [rng.choice(VOCAB)
                              for _ in range(rng.randint(4, 30))]
            texts.append(" ".join(src[:keep] + tail))
        else:
            n_toks = rng.randint(10, 100)
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(n_toks)))
        langs.append("en" if rng.random() < 0.41 else rng.choice(LANGS[1:]))
        sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus(out_dir, seed, n_docs):
    """Write documents.parquet for the dedup chain; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    t = documents(n_docs, seed)
    pq.write_table(t, os.path.join(out_dir, "documents.parquet"))
    return {"documents": t.num_rows}


PAY_HEADER = ["payment_id", "loan_id", "payment_date", "payment_amount",
              "principal_paid", "interest_paid", "payment_status"]


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def loan_seeds(out_dir, seed, n_loans, n_payments, n_batches, batch_new,
               batch_updates):
    """Write the Fiction-Bank seed CSVs and incremental payment batches.

    Returns row counts and the expected state of the incremental payments
    table after each batch (a merge on payment_id) and of the snapshot
    taken after the last batch (check strategy on amount and status).
    """
    os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
    rng = random.Random(seed)
    _write_csv(os.path.join(out_dir, "loan_types.csv"),
               ["loan_type_id", "loan_type_name", "description",
                "typical_term_months", "min_amount", "max_amount"], LOAN_TYPES)
    loans = []
    start = datetime.date(2021, 1, 1)
    for i in range(n_loans):
        lt = LOAN_TYPES[rng.randrange(3)]
        amount = rng.randrange(lt[4], lt[5] + 1, 1000) if lt[0] != 3 \
            else rng.randrange(lt[4], lt[5] + 1, 100)
        value = "" if rng.random() < 0.05 else \
            str(amount + rng.randrange(0, amount + 1, 1000))
        loans.append([
            f"L{i:06d}", f"C{rng.randrange(n_loans // 2 + 1):06d}", lt[0],
            amount, round(rng.uniform(2.5, 12.0), 2),
            (start + datetime.timedelta(days=rng.randrange(730))).isoformat(),
            lt[3],
            f"{rng.randrange(1, 9999)} {rng.choice(STREETS)}, {rng.choice(CITIES)}",
            value])
    _write_csv(os.path.join(out_dir, "raw_loans.csv"),
               ["loan_id", "customer_id", "loan_type_id", "loan_amount",
                "interest_rate", "loan_start_date", "loan_term_months",
                "property_address", "property_value"], loans)

    def payment(pid, status=None):
        loan = loans[rng.randrange(n_loans)]
        day = datetime.date.fromisoformat(loan[5]) + \
            datetime.timedelta(days=rng.randrange(30, 700))
        amount = round(rng.uniform(100, 5000), 2)
        principal = round(amount * rng.uniform(0.3, 0.7), 2)
        return [pid, loan[0], day.isoformat(), amount, principal,
                round(amount - principal, 2),
                status or rng.choice(["completed", "completed", "pending",
                                      "late"])]

    initial = [payment(f"P{i:07d}") for i in range(n_payments)]
    _write_csv(os.path.join(out_dir, "raw_loan_payments.csv"), PAY_HEADER,
               initial)
    state = {p[0]: (p[3], p[6]) for p in initial}
    first = dict(state)
    counts = [len(state)]
    next_id = n_payments
    for b in range(n_batches):
        rows = []
        for _ in range(batch_new):
            rows.append(payment(f"P{next_id:07d}"))
            next_id += 1
        for pid in rng.sample(sorted(state), batch_updates):
            amount, status = state[pid]
            row = payment(pid, "late" if status == "completed" else "completed")
            row[3] = amount  # a status change; the amount stays the same
            rows.append(row)
        rows.sort(key=lambda r: r[0])
        for r in rows:
            state[r[0]] = (r[3], r[6])
        counts.append(len(state))
        _write_csv(os.path.join(out_dir, "batches", f"batch_{b + 1:03d}.csv"),
                   PAY_HEADER, rows)
    changed = sum(1 for k, v in first.items() if state[k] != v)
    return {
        "rows": {"loan_types": len(LOAN_TYPES), "raw_loans": n_loans,
                 "raw_loan_payments": n_payments,
                 "batch_rows": batch_new + batch_updates},
        "incremental_counts": counts,
        "snapshot_rows": len(state) + changed,
    }


def digest(root):
    """sha256 over every file under `root`, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
