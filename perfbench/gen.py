"""Seeded input of the ETL workload.

``xetra_corpus`` writes the minute-bar CSV corpus the ETL job reads, in the
reference's layout ``<date>/<date>_BINS_XETR<HH>.csv`` (13 hourly files per
trading day, 08..20). It is a pure function of its arguments: the same seed
writes the same bytes, so a run can be repeated exactly and two commits can
be fed identical inputs.

The query mix needs no generator: it reads the engine's own sf0.01 test
tables, copied byte for byte into ``perfbench/data/sf0.01``.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

XETRA_COLUMNS = ["ISIN", "Mnemonic", "Date", "Time", "StartPrice",
                 "EndPrice", "MinPrice", "MaxPrice", "TradedVolume"]
XETRA_HOURS = range(8, 21)


def _cents_str(cents):
    """Integer cents -> 'd.cc' strings, vectorized (no float formatting)."""
    cents = pa.array(cents, pa.int64())
    whole = pc.cast(pc.divide(cents, 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pc.subtract(cents, pc.multiply(
        pc.divide(cents, 100), 100)), pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _csv_bytes(columns):
    """Unquoted CSV body for string arrays with no commas or nulls."""
    line = pc.binary_join_element_wise(*columns, ",")
    line = pc.binary_join_element_wise(line, pa.scalar(""), "\n")
    offsets = np.frombuffer(line.buffers()[1], np.int32,
                            len(line) + 1, line.offset * 4)
    data = line.buffers()[2]
    return data.to_pybytes()[offsets[0]:offsets[-1]]


def xetra_corpus(out, seed, first_day, ndays, n_isins, density):
    """Write ``ndays`` trading days starting at ``first_day`` (a date).

    Each instrument trades in a given minute with probability ``density``;
    its price follows a per-instrument random walk in whole cents, so every
    price has exactly two decimals. Returns {date string: rows written}.
    """
    rng = np.random.default_rng([seed, 1])
    isins = np.array([f"DE{i:010d}" for i in range(n_isins)], dtype=object)
    letters = rng.integers(0, 26, size=(n_isins, 4))
    mnemonics = np.array(["".join(chr(65 + c) for c in row)
                          for row in letters], dtype=object)
    price = rng.integers(500, 20000, size=n_isins).astype(np.int64)
    rows = {}
    for d in range(ndays):
        day = (first_day + dt.timedelta(days=d)).isoformat()
        os.makedirs(os.path.join(out, day), exist_ok=True)
        rows[day] = 0
        for hour in XETRA_HOURS:
            trades = rng.random((n_isins, 60)) < density
            inst, minute = np.nonzero(trades)
            n = len(inst)
            step = rng.integers(-8, 9, size=n)
            start = np.maximum(price[inst] + step, 1)
            end = np.maximum(start + rng.integers(-10, 11, size=n), 1)
            low = np.maximum(np.minimum(start, end) -
                             rng.integers(0, 6, size=n), 1)
            high = np.maximum(start, end) + rng.integers(0, 6, size=n)
            price[inst] = end
            body = _csv_bytes([
                pa.array(isins[inst], pa.string()),
                pa.array(mnemonics[inst], pa.string()),
                pa.array(np.full(n, day, dtype=object), pa.string()),
                pa.array([f"{hour:02d}:{m:02d}" for m in range(60)],
                         pa.string()).take(pa.array(minute)),
                _cents_str(start), _cents_str(end), _cents_str(low),
                _cents_str(high),
                pc.cast(pa.array(rng.integers(1, 10000, size=n)),
                        pa.string()),
            ])
            path = os.path.join(out, day, f"{day}_BINS_XETR{hour:02d}.csv")
            with open(path, "wb") as f:
                f.write((",".join(XETRA_COLUMNS) + "\n").encode())
                f.write(body)
            rows[day] += n
    return rows

