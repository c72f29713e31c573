"""Seeded input generators. Pure Python and pyarrow: the program under
test sees only the files written here, and the same seed always writes
the same bytes. The generators also hand back what the outputs must be
checked against (the clean rows, the injected duplicate ids), so no
second engine is needed."""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(2025, 1, 1)

#: The document and event generators are fitted to the repository's
#: sf0.1 test tables (``documents``: 5,000 docs; ``events``: 100,000
#: events), measured with DuckDB:
#:
#: - documents: one line of 10–99 words drawn uniformly from these 30
#:   words (deciles 19, 28, …, 90; every word ~9,000 times), no
#:   punctuation; 250 near-duplicate copies (5%) are a document plus the
#:   word ``dup``; 8 texts (0.16%) occur twice. ``lang`` is en 41%, zh,
#:   es and fr 15% each, de 14%; ``source`` is ``src<doc_id mod 20>``.
#: - events: 30 days from 2024-01-01 at a uniform rate, ``user_id`` in
#:   0–1499, five equally likely event types, ``value`` with two
#:   decimals and quantiles 5.35 / 34.8 / 114 / 228 at 10/50/90/99%
#:   (exponential, mean 50), ``props`` = ``{"k": 0..99}``, ``event_id``
#:   in time order.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_WORDS = (10, 99)
NEAR_SUFFIX = "dup"
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
EVENT_DAY0 = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# ------------------------------------------------------------ KPI rows
def kpi_rows(rng: random.Random, n_metrics: int, first_day: int, n_days: int,
             rows_per_day: int, second0: int = 0, step: int = 2) -> list[tuple[str, str, str]]:
    """Clean ``(timestamp, metric, value)`` CSV rows: per metric and day,
    ``rows_per_day`` readings at distinct seconds drawn from
    ``range(second0, 86400, step)`` (callers keep the ranges of rows for
    the same day disjoint), values with two decimals so the
    decimal(28,4) KPI sum is exact."""
    out = []
    for d in range(first_day, first_day + n_days):
        day = DAY0 + dt.timedelta(days=d)
        for m in range(n_metrics):
            base = 50 + 10 * m
            for sec in sorted(rng.sample(range(second0, 86400, step), rows_per_day)):
                ts = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=sec)
                v = round(rng.gauss(base, base / 5), 2)
                out.append((ts.strftime("%Y-%m-%d %H:%M:%S"), f"m{m:03d}", f"{v:.2f}"))
    return out


def write_raw_csv(path: str, rng: random.Random, clean: list, resend: list,
                  invalid_frac: float) -> int:
    """Write one raw drop: the clean rows, verbatim re-sends and invalid
    rows (bad timestamp or bad value), shuffled. Returns the row count."""
    n_bad = int(len(clean) * invalid_frac)
    bad = []
    for i in range(n_bad):
        ts, metric, value = clean[rng.randrange(len(clean))]
        bad.append(("not-a-time", metric, value) if i % 2 else (ts, metric, "n/a"))
    rows = clean + resend + bad
    rng.shuffle(rows)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["timestamp", "metric", "value"])
        w.writerows(rows)
    return len(rows)


def expected_gold(clean: list) -> dict[tuple[str, str], tuple[float, float, int]]:
    """``(metric_date, metric) -> (value_sum, value_avg, value_count)`` the
    daily KPI job must produce from ``clean`` (exact decimal sums)."""
    acc: dict[tuple[str, str], list] = {}
    for ts, metric, value in clean:
        a = acc.setdefault((ts[:10], metric), [Decimal(0), 0])
        a[0] += Decimal(value)
        a[1] += 1
    return {k: (float(s), float(s) / n, n) for k, (s, n) in acc.items()}


# ------------------------------------------------------------ documents
def _doc_text(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n_words))


def _lengths(rng: random.Random, n: int) -> list[int]:
    """``n`` document lengths spread evenly over ``DOC_WORDS`` (a
    stratified draw from sf0.1's uniform length distribution), in seeded
    order: the long documents, which make most near-duplicate pairs,
    number the same for every seed."""
    lo, hi = DOC_WORDS
    out = [lo + (i * (hi - lo + 1)) // n for i in range(n)]
    rng.shuffle(out)
    return out


def corpus(rng: random.Random, n_base: int, exact_frac: float, near_frac: float,
           first_id: int = 0, pool: list | None = None) -> tuple[list, dict]:
    """``(doc_id, text, lang)`` rows: ``n_base`` fresh documents plus
    exact copies and near-duplicate copies (the text plus the word
    ``dup``, as in sf0.1) of documents drawn from ``pool`` (default: this
    call's fresh documents). Copies get higher ids than every original.
    Returns (rows, ``{copy id: (source id, "exact" | "near")}``)."""
    langs, weights = zip(*LANGS)

    def lang() -> str:
        return rng.choices(langs, weights)[0]

    rows = [(first_id + i, _doc_text(rng, n), lang())
            for i, n in enumerate(_lengths(rng, n_base))]
    src = list(pool if pool is not None else rows)
    next_id = first_id + n_base
    copies = {}
    for kind, frac in (("exact", exact_frac), ("near", near_frac)):
        for _ in range(round(n_base * frac)):
            doc_id, text, _ = rng.choice(src)
            rows.append((next_id, text if kind == "exact" else f"{text} {NEAR_SUFFIX}", lang()))
            copies[next_id] = (doc_id, kind)
            next_id += 1
    return rows, copies


def write_docs(path: str, rows: list, n_files: int = 1) -> None:
    """Write ``corpus`` rows in the sf0.1 ``documents`` schema."""
    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        part = rows[f::n_files]
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in part], pa.int64()),
                      "text": pa.array([r[1] for r in part], pa.string()),
                      "lang": pa.array([r[2] for r in part], pa.string()),
                      "source": pa.array([f"src{r[0] % 20}" for r in part], pa.string()),
                      "n_chars": pa.array([len(r[1]) for r in part], pa.int64())}),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )


# ------------------------------------------------------------ events
def events(rng: random.Random, n: int, days: int = 30) -> pa.Table:
    """``n`` events in the sf0.1 ``events`` schema over ``days`` days,
    in time order."""
    span_us = days * 86400 * 10**6
    offsets = sorted(rng.randrange(span_us) for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([EVENT_DAY0 + dt.timedelta(microseconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(1500) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n)], pa.string()),
        "value": pa.array([round(rng.expovariate(1 / 50), 2) for _ in range(n)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n)], pa.string()),
    })


def stage_stream(table: pa.Table, path: str, n_files: int) -> None:
    """Stage ``table`` (in time order) as ``n_files`` consecutive time
    slices in the shape the streaming drains read: one file per
    micro-batch, ``event_type`` renamed to ``metric``, ``ts`` in UTC."""
    os.makedirs(path, exist_ok=True)
    t = table.select(["ts", "user_id", "event_type", "value"]).rename_columns(
        ["ts", "user_id", "metric", "value"])
    # a UTC instant, which Spark reads as TIMESTAMP (watermarks need it)
    t = t.set_column(0, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
    step = -(-t.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(t.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"))
