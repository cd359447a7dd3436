"""Seeded loan-CSV generator for the ETL workloads.

`generate(seed, rows, path)` writes a CSV shaped like the reference DAG's
input (`timestamp`, `loan_amount`, `loan_type` plus extra columns) and,
next to it, `<path>.tallies.json`: what `LoanPipeline.runEtl` must produce
on that file, computed here with numpy and no Spark.

The same (seed, rows) always gives a byte-identical file.

What the data plants, and why:
- `timestamp` uses all three reference formats in equal shares, plus
  empty and unparseable values, so every branch of the multi-format
  parse runs.
- Every column has nulls. Most have one clearly dominant value, so the
  mode does not depend on sampling luck.
- `tie_*` columns have two values with exactly equal top counts. The
  reference fill breaks the tie in the column's own type (smaller value
  first); the single-pass fills compare the values as strings. For
  `tie_int` (7 vs 12) and `tie_dbl` (2.5 vs 10.5) the two orders pick
  different values; for `tie_str` they agree.
- `tie_null` has as many nulls as its top value, so the nulls-first
  tie-break makes its mode null. `null_mode` is mostly null.
- A small share of rows is ragged: cut short after column `RAGGED_MIN`.
  Spark's permissive CSV reader turns the missing trailing fields into
  nulls, and the tallies count them that way.
"""
import io
import json
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

TS_UNPARSEABLE = "n/a"
LOAN_TYPES = ["auto", "business", "education", "home", "personal", "student"]
# The columns before this index are never cut by a ragged row, so the
# planted exact ties stay exact.
RAGGED_MIN = 9
RAGGED_SHARE = 0.003
# Planted ties: column -> (kind, the two values with equal top counts).
TIES = {
    "tie_int": ("int", (7, 12)),
    "tie_dbl": ("double", (2.5, 10.5)),
    "tie_str": ("string", ("beta", "alpha")),
}


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _skewed(rng, n, card):
    """Indices in [0, card) with a Zipf-like skew, so index 0 dominates."""
    cdf = np.cumsum(1.0 / np.arange(1, card + 1) ** 1.1)
    return np.minimum(np.searchsorted(cdf / cdf[-1], rng.random(n)), card - 1)


def _nulls(rng, n, share):
    return rng.random(n) < share


def _planted_tie(rng, n, tied, rest):
    """Two values with exactly `n // 8` rows each, `n // 100` nulls, and
    the remaining rows spread over `rest` (each far below the tie)."""
    c = n // 8
    nn = n // 100
    other = n - 2 * c - nn
    vals = np.concatenate([
        np.full(c, 0), np.full(c, 1), 2 + rng.integers(0, len(rest), other),
        np.full(nn, -1)])
    rng.shuffle(vals)
    table = list(tied) + list(rest)
    return vals, table


def _columns(seed, n):
    """Yields (name, kind, codes, table): `codes` index into `table`,
    -1 is null. Kinds are what Spark's inferSchema will pick."""
    cols = []
    # timestamp: instant seconds, then a format per row; handled apart
    r = _rng(seed, 0)
    secs = 1577836800 + r.integers(0, 3 * 365 * 86400, n)
    fmt = r.integers(0, 3, n)
    ts_state = r.random(n)  # < 0.02 empty, < 0.03 unparseable
    cols.append(("timestamp", "ts", (secs, fmt, ts_state), None))
    cols.append(("loan_id", "int", np.arange(n), list(range(1, n + 1))))
    r = _rng(seed, 2)
    k = _skewed(r, n, 4000)
    k[_nulls(r, n, 0.01)] = -1
    perm = r.permutation(4000)
    cols.append(("loan_amount", "double", k, [1000 + int(p) * 12.25 + 0.5 for p in perm]))
    r = _rng(seed, 3)
    k = np.searchsorted(np.cumsum([0.22, 0.08, 0.12, 0.30, 0.20, 0.08]), r.random(n) * 0.999999)
    k[_nulls(r, n, 0.015)] = -1
    cols.append(("loan_type", "string", k, LOAN_TYPES))
    for i, (name, (kind, tied)) in enumerate(TIES.items()):
        r = _rng(seed, 10 + i)
        rest = {"int": [20 + j for j in range(500)],
                "double": [100.25 + j for j in range(500)],
                "string": ["w%03d" % j for j in range(500)]}[kind]
        vals, table = _planted_tie(r, n, tied, rest)
        cols.append((name, kind, vals, table))
    # tie_null: the top value ties the null group exactly
    r = _rng(seed, 20)
    c = n // 8
    vals = np.concatenate([np.full(c, 0), np.full(c, -1), 1 + r.integers(0, 500, n - 2 * c)])
    r.shuffle(vals)
    cols.append(("tie_null", "int", vals, [3] + [100 + j for j in range(500)]))
    r = _rng(seed, 21)
    k = r.integers(0, 1000, n)
    k[_nulls(r, n, 0.6)] = -1
    cols.append(("null_mode", "int", k, [5000 + j for j in range(1000)]))
    for i, (card, null_share) in enumerate(
            [(10, 0.02), (100, 0.05), (1000, 0.01), (100000, 0.005), (50, 0.002), (7, 0.03)]):
        r = _rng(seed, 30 + i)
        k = _skewed(r, n, card)
        k[_nulls(r, n, null_share)] = -1
        cols.append(("int_%d" % i, "int", k, [int(v) for v in 10 * i + r.permutation(card)]))
    for i, (card, null_share) in enumerate(
            [(20, 0.03), (500, 0.01), (5000, 0.02), (60, 0.005), (3, 0.04)]):
        r = _rng(seed, 40 + i)
        k = _skewed(r, n, card)
        k[_nulls(r, n, null_share)] = -1
        cols.append(("dbl_%d" % i, "double", k, [int(v) + 0.5 for v in r.permutation(card)]))
    for i, (card, null_share) in enumerate(
            [(5, 0.01), (40, 0.02), (300, 0.03), (3000, 0.01), (20000, 0.005)]):
        r = _rng(seed, 50 + i)
        k = _skewed(r, n, card)
        k[_nulls(r, n, null_share)] = -1
        cols.append(("str_%d" % i, "string", k, ["s%d" % v for v in r.permutation(card)]))
    return cols


def _mode(codes, tab):
    """Reference mode: count desc, then the smaller value in the column's
    own type, nulls first. Returns the table index, or -1 for null."""
    counts = np.bincount(codes[codes >= 0], minlength=len(tab))
    nulls = int((codes < 0).sum())
    top = int(counts.max()) if len(counts) else 0
    if nulls >= top:
        return -1
    tied = np.flatnonzero(counts == top)
    return int(tied[np.argmin(tab[tied])]) if tab.dtype != object else min(tied, key=lambda i: tab[i])


def _timestamps(secs, fmt, is_null, bad):
    """The CSV text of each instant in its row's format, built column-wise
    in Arrow (formatting a million instants one by one takes seconds)."""
    dt = secs.astype("datetime64[s]")
    month = dt.astype("datetime64[M]")
    parts = {
        "Y": (month.astype(int) // 12 + 1970, 4), "m": (month.astype(int) % 12 + 1, 2),
        "d": ((dt.astype("datetime64[D]") - month).astype(int) + 1, 2),
        "H": (secs % 86400 // 3600, 2), "M": (secs % 3600 // 60, 2), "S": (secs % 60, 2)}
    text = {k: pc.utf8_lpad(pc.cast(pa.array(v), pa.string()), w, "0") for k, (v, w) in parts.items()}
    clock = pc.binary_join_element_wise(text["H"], text["M"], text["S"], ":")
    dates = [pc.binary_join_element_wise(text["Y"], text["m"], text["d"], "-"),
             pc.binary_join_element_wise(text["m"], text["d"], text["Y"], "/"),
             pc.binary_join_element_wise(text["d"], text["m"], text["Y"], "-")]
    day = dates[0]
    for f in (1, 2):
        day = pc.if_else(pa.array(fmt == f), dates[f], day)
    out = pc.binary_join_element_wise(day, clock, " ")
    out = pc.if_else(pa.array(bad), pa.scalar(TS_UNPARSEABLE), out)
    return pc.if_else(pa.array(is_null), pa.scalar(None, pa.string()), out)


def _string_mode(codes, table):
    """The same mode with the values compared as Spark casts them to
    strings, as the single-pass fills do."""
    counts = np.bincount(codes[codes >= 0], minlength=len(table))
    nulls = int((codes < 0).sum())
    top = int(counts.max())
    if nulls >= top:
        return None
    return min(str(table[i]) for i in np.flatnonzero(counts == top))


def generate(seed, rows, path):
    """Writes the CSV to `path` and its tallies to `path + '.tallies.json'`;
    returns the tallies."""
    cols = _columns(seed, rows)
    r = _rng(seed, 99)
    ragged = np.flatnonzero(r.random(rows) < RAGGED_SHARE)
    cut = r.integers(RAGGED_MIN, len(cols), len(ragged))
    for j, (name, kind, codes, table) in enumerate(cols):
        if j >= RAGGED_MIN:
            codes[ragged[cut <= j]] = -1

    arrays, tallies_cols = {}, {}
    expected_nulls, mode_counts = {}, {}
    insights = {}
    for name, kind, codes, table in cols:
        if kind == "ts":
            secs, fmt, state = codes
            is_null, bad = state < 0.02, (state >= 0.02) & (state < 0.03)
            arrays[name] = _timestamps(secs, fmt, is_null, bad)
            # The mode over the strings: a string is one (instant, format)
            # pair, or the unparseable marker.
            _, cnt = np.unique(secs[~is_null & ~bad] * 3 + fmt[~is_null & ~bad], return_counts=True)
            top = max(int(cnt.max()), int(bad.sum()))
            if int(is_null.sum()) < top:
                raise ValueError("timestamp mode is not null; the tallies assume it is")
            expected_nulls[name] = int(is_null.sum())
            expected_nulls["date"] = expected_nulls["time"] = int(is_null.sum() + bad.sum())
            tallies_cols[name] = {"kind": "string", "nulls_in": int(is_null.sum()), "mode": None,
                                  "mode_count_in": 0}
            continue
        tab = np.array(table, dtype={"int": np.int64, "double": np.float64, "string": object}[kind])
        mask = codes < 0
        if kind == "string":
            arrays[name] = pa.DictionaryArray.from_arrays(
                pa.array(codes, mask=mask, type=pa.int32()), pa.array(table)).dictionary_decode()
        else:
            arrays[name] = pa.array(tab[np.where(mask, 0, codes)], mask=mask)
        m = _mode(codes, tab)
        n_null = int(mask.sum())
        expected_nulls[name] = n_null if m < 0 else 0
        mode_val = None if m < 0 else table[m]
        tallies_cols[name] = {"kind": kind, "nulls_in": n_null, "mode": mode_val,
                              "mode_count_in": 0 if m < 0 else int((codes == m).sum())}
        if name in TIES or name == "tie_null":
            count_m = 0 if m < 0 else int((codes == m).sum()) + n_null
            mode_counts[name] = {"value": mode_val, "count": count_m,
                                 "string_mode": _string_mode(codes, table)}
        filled = np.where(mask, m, codes) if m >= 0 else codes
        if name == "loan_amount":
            present = filled >= 0
            insights["avg_loan_amount"] = (math.fsum(tab[filled[present]]) / int(present.sum())
                                           if present.any() else None)
        if name == "loan_type":
            cnt = {}
            for code, c in zip(*np.unique(filled, return_counts=True)):
                cnt[None if code < 0 else table[code]] = int(c)
            insights["by_loan_type"] = [
                {"loan_type": k, "count": v}
                for k, v in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or ""))]
    insights["total_loans"] = rows

    buf = io.BytesIO()
    pacsv.write_csv(pa.table(arrays), buf, pacsv.WriteOptions(quoting_style="none"))
    lines = buf.getvalue().split(b"\n")
    for i, k in zip(ragged, cut):
        lines[i + 1] = b",".join(lines[i + 1].split(b",")[:k])
    with open(path, "wb") as f:
        f.write(b"\n".join(lines))

    tallies = {
        "seed": seed, "rows": rows, "columns": [c[0] for c in cols] + ["date", "time"],
        "ragged_rows": int(len(ragged)), "insights": insights,
        "nulls_after_fill": expected_nulls, "tie_modes": mode_counts, "per_column": tallies_cols,
    }
    with open(path + ".tallies.json", "w") as f:
        json.dump(tallies, f, indent=1, sort_keys=True)
    return tallies


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    t = generate(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3])
    print(json.dumps(t["insights"])[:300], "%.2fs" % (time.time() - t0))
