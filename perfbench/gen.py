"""Seeded input generators with ground truth.

Every generator is a pure function of its seed: the same seed gives the
same bytes. Each returns the generated data together with a ground-truth
dict that says what was injected, so the benchmark can check outputs and
the tests can check the generators. No Spark here: inputs are built in
NumPy and written with pyarrow, so the engine sees only files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- dirty table ------------------------------------------------------------

SEGMENTS = ("consumer", "corporate", "home office")
REGIONS = ("north", "south", "east", "west")
CATEGORIES = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")

#: injected defect rates of the dirty table
DUP_FRAC = 0.05
NULL_FRAC = {"amount": 0.05, "quantity": 0.03, "price": 0.04, "score": 0.02, "category": 0.08, "discount": 0.05}
OUTLIER_FRAC = {"amount": 0.01, "quantity": 0.005, "score": 0.005}
BAD_DATE_FRAC = 0.01

#: columns the pipeline clips (IQR) and the one it replaces by median (z-score)
IQR_COLUMNS = ("amount", "quantity")
ZSCORE_COLUMN = "score"
IQR_MULTIPLIER = 1.5
Z_THRESHOLD = 3.0

#: imputation strategy per null-bearing column
IMPUTE = {
    "amount": "mean",
    "quantity": "median",
    "price": "median",
    "score": "mean",
    "category": "mode",
    "discount": {"strategy": "constant", "value": 0.0},
}


def _messy(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    """Case and whitespace variants of clean lowercase strings."""
    forms = np.array(
        [values, np.char.upper(values), np.char.title(values), np.char.add("  ", values), np.char.add(values, " ")]
    )
    pick = rng.integers(0, len(forms), size=len(values))
    return forms[pick, np.arange(len(values))].astype(object)


def dirty_table(n_rows: int, seed: int) -> tuple[pa.Table, dict]:
    """A 12-column table of about ``n_rows`` rows with injected nulls,
    exact duplicate rows, outliers, messy-case text and string dates.

    Ground truth: base (unique) row count, duplicate count, per-column null
    and outlier counts, and the exact outlier bounds the pipeline must
    derive from the de-duplicated rows (linear-interpolated quartiles,
    sample standard deviation).
    """
    rng = np.random.default_rng(seed)
    n_base = int(round(n_rows / (1 + DUP_FRAC)))
    n_dup = n_rows - n_base

    names = np.array([f"cust{i:05d} {w}" for i, w in enumerate(rng.choice(list("abcdefgh"), size=5000))])
    customer = _messy(rng, names[rng.integers(0, len(names), size=n_base)])
    segment = _messy(rng, np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), size=n_base)])
    region = _messy(rng, np.array(REGIONS)[rng.integers(0, len(REGIONS), size=n_base)])
    category = np.array(CATEGORIES, dtype=object)[rng.integers(0, len(CATEGORIES), size=n_base)]

    amount = np.round(rng.lognormal(4.0, 0.5, size=n_base), 2)
    quantity = (rng.poisson(5, size=n_base) + 1).astype(np.int64)
    price = np.round(rng.uniform(1.0, 100.0, size=n_base), 2)
    score = np.round(rng.normal(50.0, 10.0, size=n_base), 3)
    discount = np.round(rng.uniform(0.0, 0.3, size=n_base), 3)
    active = rng.random(n_base) < 0.7

    truth: dict = {"rows": n_rows, "base_rows": n_base, "duplicates": n_dup, "nulls": {}, "outliers": {}}

    # outliers go in before nulls; a row may end up both (then it is a null)
    out_amount = rng.random(n_base) < OUTLIER_FRAC["amount"]
    amount[out_amount] = np.round(amount[out_amount] * 50.0, 2)
    out_qty = rng.random(n_base) < OUTLIER_FRAC["quantity"]
    quantity[out_qty] = 500
    out_score = rng.random(n_base) < OUTLIER_FRAC["score"]
    score[out_score] = np.where(rng.random(out_score.sum()) < 0.5, -200.0, 300.0)

    dates = np.datetime64("2015-01-01") + rng.integers(0, 3650, size=n_base).astype("timedelta64[D]")
    signup = dates.astype(str).astype(object)
    bad_date = rng.random(n_base) < BAD_DATE_FRAC
    signup[bad_date] = "not a date"
    truth["bad_dates"] = int(bad_date.sum())

    masks = {c: rng.random(n_base) < f for c, f in NULL_FRAC.items()}
    for c, m in masks.items():
        truth["nulls"][c] = int(m.sum())
    truth["outliers"] = {
        "amount": int((out_amount & ~masks["amount"]).sum()),
        "quantity": int((out_qty & ~masks["quantity"]).sum()),
        "score": int((out_score & ~masks["score"]).sum()),
    }

    cols = {
        "id": pa.array(np.arange(n_base, dtype=np.int64)),
        "customer": pa.array(customer, type=pa.string()),
        "segment": pa.array(segment, type=pa.string()),
        "region": pa.array(region, type=pa.string()),
        "category": pa.array(category, type=pa.string(), mask=masks["category"]),
        "amount": pa.array(amount, mask=masks["amount"]),
        "quantity": pa.array(quantity, mask=masks["quantity"]),
        "price": pa.array(price, mask=masks["price"]),
        "score": pa.array(score, mask=masks["score"]),
        "discount": pa.array(discount, mask=masks["discount"]),
        "signup_date": pa.array(signup, type=pa.string()),
        "active": pa.array(active),
    }
    base = pa.table(cols)

    bounds = {}
    for c in IQR_COLUMNS:
        v = np.asarray(cols[c].to_numpy(zero_copy_only=False), dtype=float)
        v = v[~masks[c]]
        q1, q3 = np.percentile(v, [25, 75])
        bounds[c] = (q1 - IQR_MULTIPLIER * (q3 - q1), q3 + IQR_MULTIPLIER * (q3 - q1))
    v = score[~masks[ZSCORE_COLUMN]]
    m, sd = v.mean(), v.std(ddof=1)
    bounds[ZSCORE_COLUMN] = (m - Z_THRESHOLD * sd, m + Z_THRESHOLD * sd)
    truth["bounds"] = bounds

    # duplicates: exact copies of random base rows, shuffled in among them
    dup_src = rng.integers(0, n_base, size=n_dup)
    order = rng.permutation(n_base + n_dup)
    table = pa.concat_tables([base, base.take(dup_src)]).take(order)
    return table, truth


def pipeline_master(run_id: str = "bench") -> dict:
    """The M01→M10 master config the pipeline workload runs over
    :func:`dirty_table` output."""
    text_cols = ["customer", "segment", "region", "category"]
    return {
        "run_id": run_id,
        "modules": {
            "diagnostics": {"run": True, "config": {}},
            "validation": {
                "run": True,
                "config": {
                    "validation": {
                        "schema_validation": {
                            "rules": {
                                "expected_columns": ["id", "amount", "quantity", "signup_date"],
                                "categorical_values": {"region": list(REGIONS)},
                                "numeric_ranges": {"amount": {"min": 0}, "discount": {"min": 0, "max": 1}},
                                "disallowed_null_columns": ["id"],
                            },
                            "fail_on_error": False,
                        }
                    }
                },
            },
            "normalization": {
                "run": True,
                "config": {
                    "normalization": {
                        "rules": {
                            "standardize_text_columns": text_cols,
                            "parse_datetimes": {"signup_date": {"format": "%Y-%m-%d", "errors": "coerce"}},
                        }
                    }
                },
            },
            "duplicates": {"run": True, "config": {"duplicates": {"mode": "remove", "keep": "first"}}},
            "outlier_detection": {
                "run": True,
                "config": {
                    "outlier_detection": {
                        "detection_specs": {
                            **{c: {"method": "iqr", "iqr_multiplier": IQR_MULTIPLIER} for c in IQR_COLUMNS},
                            ZSCORE_COLUMN: {"method": "zscore", "zscore_threshold": Z_THRESHOLD},
                        }
                    }
                },
            },
            "outlier_handling": {
                "run": True,
                "config": {
                    "outlier_handling": {
                        "handling_specs": {
                            **{c: {"strategy": "clip"} for c in IQR_COLUMNS},
                            ZSCORE_COLUMN: {"strategy": "median"},
                        }
                    }
                },
            },
            "imputation": {"run": True, "config": {"imputation": {"rules": {"strategies": IMPUTE}}}},
            "final_audit": {
                "run": True,
                "config": {
                    "final_audit": {
                        "certification": {
                            "schema_validation": {"rules": {"disallowed_null_columns": ["id", *IMPUTE]}}
                        }
                    }
                },
            },
        },
    }


# --- corpus -----------------------------------------------------------------

#: documents injected per 100 base documents, by the curation stage that
#: must drop them
INJECT_PER_100 = {"exact": 10, "near": 10, "subset": 8, "repetitive": 5, "contaminated": 5}
BASE_WORDS = (80, 120)
SUBSET_WORDS = 40
#: benchmark passages beyond those planted in the corpus
BENCH_UNUSED = 10
BENCH_WORDS = 30


def _vocab(rng: np.random.Generator, size: int = 6000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=size)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def corpus(n_base: int, seed: int) -> tuple[pa.Table, pa.Table, dict]:
    """A document corpus of ``n_base`` unique documents plus injected
    documents that each curation stage must drop, and a benchmark (eval)
    passage set for decontamination.

    Injected, each from distinct base documents so no two interact:
    exact duplicates (case and punctuation changed; same normalized text),
    near duplicates (one word appended; word-3-gram Jaccard near 0.99),
    subsets (a 40-word prefix, fully contained in its source), repetitive
    documents (one phrase looped; fails the repetition gate) and
    contaminated documents (a benchmark passage plus a few words; 8-gram
    overlap above one half). Survivors are exactly the base documents.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    lens = rng.integers(BASE_WORDS[0], BASE_WORDS[1] + 1, size=n_base)
    base = [" ".join(rng.choice(vocab, size=k)) for k in lens]
    counts = {k: n_base * v // 100 for k, v in INJECT_PER_100.items()}
    sources = rng.permutation(n_base)
    take = iter(sources.tolist())

    injected: list[str] = []
    for _ in range(counts["exact"]):
        words = base[next(take)].split(" ")
        words[0] = words[0].upper()
        injected.append(" ".join(words) + ".")
    for _ in range(counts["near"]):
        injected.append(base[next(take)] + " " + str(rng.choice(vocab)))
    for _ in range(counts["subset"]):
        injected.append(" ".join(base[next(take)].split(" ")[:SUBSET_WORDS]))
    for _ in range(counts["repetitive"]):
        phrase = " ".join(rng.choice(vocab, size=3))
        injected.append(" ".join([phrase] * 30))
    n_passages = counts["contaminated"] + BENCH_UNUSED
    passages = [" ".join(rng.choice(vocab, size=BENCH_WORDS)) for _ in range(n_passages)]
    for passage in passages[: counts["contaminated"]]:
        injected.append(passage + " " + " ".join(rng.choice(vocab, size=6)))

    # injected documents take ids after every base document, so a kept
    # representative (smallest id) is always the base document
    texts = base + injected
    ids = np.arange(len(texts), dtype=np.int64)
    order = rng.permutation(len(texts))
    docs = pa.table({"doc_id": pa.array(ids[order]), "text": pa.array([texts[i] for i in order])})
    bench = pa.table({"text": pa.array(passages)})
    truth = {"docs": len(texts), "survivors": n_base, "injected": counts}
    return docs, bench, truth


def write_parquet(table: pa.Table, path: str, parts: int = 1) -> int:
    """Write ``table`` as ``parts`` parquet files in directory ``path``
    (the layout Spark writers produce); returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    size = 0
    for i in range(parts):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        size += os.path.getsize(f)
    return size
