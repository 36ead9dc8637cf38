"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files. The Spark side receives only
these files (and the expected counts written next to them).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COMPANIES = ["ACME", "BOLT", "CRUX", "DYNA", "EPIC"]
STATEMENTS = ["Income", "Balance-Sheet", "Cash-Flow", "Ratios"]
METRICS = [
    "Revenue", "Cost of Revenue", "Gross Profit", "R&D Expenses",
    "SG&A Expenses", "EBIT Margin (%)", "Cash & Equivalents",
    "Debt/Equity", "Net Income", "EPS (Diluted)", "Free Cash Flow",
    "Shares Outstanding", "Operating Income", "Capex", "Dividends Paid",
]
N_QUARTERS = 119
# fixed writer options, so that equal inputs give equal bytes
PQ_OPTS = dict(compression="snappy", write_statistics=True)


def quarter_dates(n=N_QUARTERS):
    """The reference's `<119 quarter dates>` header, newest first."""
    out, y, q = [], 2024, 4
    ends = {1: "03-31", 2: "06-30", 3: "09-30", 4: "12-31"}
    for _ in range(n):
        out.append(f"{y}-{ends[q]}")
        q -= 1
        if q == 0:
            y, q = y - 1, 4
    return out


def rng_for(seed, salt):
    return np.random.Generator(np.random.PCG64([int(seed) & 0xFFFFFFFF, salt]))


def _cell(rng):
    return f"{rng.integers(-500000, 5000000) / 100:.2f}"


def _row_cells(rng):
    vals = rng.integers(-500000, 5000000, size=N_QUARTERS)
    blank = rng.random(N_QUARTERS) < 0.03
    return ["" if b else f"{v / 100:.2f}" for v, b in zip(vals.tolist(), blank.tolist())]


# ---------------------------------------------------------------- cdc_upload


class Table:
    """One wide snapshot table: key -> [metric, q1 .. q119]."""

    def __init__(self, company, statement, rows, rng):
        self.company, self.statement, self.rng = company, statement, rng
        self.next_id = 0
        self.rows = {}
        for _ in range(rows):
            self._insert()

    def _insert(self):
        key = f"{self.company}-{self.next_id:05d}"
        metric = METRICS[self.next_id % len(METRICS)]
        # about 3% blank cells (read back as null)
        self.rows[key] = [metric] + _row_cells(self.rng)
        self.next_id += 1

    def churn(self, upd_frac=0.05, del_frac=0.01, ins_frac=0.01):
        """One update upload: change one cell in ~5% of rows, delete ~1%,
        insert ~1%. Returns exact (inserts, updates, deletes)."""
        n = len(self.rows)
        n_upd = max(1, round(n * upd_frac))
        n_del = max(1, round(n * del_frac))
        n_ins = max(1, round(n * ins_frac))
        keys = sorted(self.rows)
        picked = self.rng.choice(len(keys), size=n_upd + n_del, replace=False)
        for i in picked[:n_upd]:
            row = self.rows[keys[i]]
            c = 1 + int(self.rng.integers(0, N_QUARTERS))
            new = _cell(self.rng)
            while new == row[c]:
                new = _cell(self.rng)
            row[c] = new
        for i in picked[n_upd:]:
            del self.rows[keys[i]]
        for _ in range(n_ins):
            self._insert()
        return n_ins, n_upd, n_del

    def csv(self):
        lines = [",".join(["Company", "Date"] + quarter_dates())]
        for key in sorted(self.rows):
            lines.append(",".join([key] + self.rows[key]))
        return "\n".join(lines) + "\n"


def gen_uploads(seed, out, n_tables, rows, n_uploads):
    """Initial full loads of `n_tables` tables, then `n_uploads` update
    uploads round-robin over them. Writes the CSVs and `manifest.tsv`:
    seq, phase, company, statement, path, rows_after, inserts, updates,
    deletes."""
    os.makedirs(out, exist_ok=True)
    pairs = [(c, s) for c in COMPANIES for s in STATEMENTS][:n_tables]
    tables = [Table(c, s, rows, rng_for(seed, 100 + i)) for i, (c, s) in enumerate(pairs)]
    manifest = []

    def emit(seq, phase, t, counts):
        path = os.path.join(out, f"{t.company}_{t.statement}_{seq:05d}.csv")
        with open(path, "w") as f:
            f.write(t.csv())
        manifest.append([seq, phase, t.company, t.statement, os.path.basename(path),
                         len(t.rows), *counts])

    seq = 0
    for t in tables:
        emit(seq, "load", t, (len(t.rows), 0, 0))
        seq += 1
    for u in range(n_uploads):
        t = tables[u % len(tables)]
        emit(seq, "update", t, t.churn())
        seq += 1
    with open(os.path.join(out, "manifest.tsv"), "w") as f:
        for m in manifest:
            f.write("\t".join(str(x) for x in m) + "\n")
    return manifest


# -------------------------------------------------------------- cdc_backfill


def gen_backfill(seed, out, rows, events):
    """A wide snapshot pair with constant-rate churn (2% of rows change
    four cells, 1% deleted, 1% inserted) and an event log of `events`
    events over `events // 5` keys in 20 (company, statement) series.
    Writes parquet plus `expected.tsv` with the exact counts."""
    os.makedirs(out, exist_ok=True)
    rng = rng_for(seed, 1)
    n_upd, n_del, n_ins = rows * 2 // 100, rows // 100, rows // 100
    ids = np.arange(rows)
    keys_a = np.array([f"K{i:07d}" for i in ids], dtype=object)
    vals = rng.integers(0, 10_000_000, size=(rows, N_QUARTERS))
    picked = rng.choice(rows, size=n_upd + n_del, replace=False)
    upd, dele = picked[:n_upd], picked[n_upd:]
    vals_b = vals.copy()
    for c in range(4):
        cols = rng.integers(0, N_QUARTERS, size=n_upd)
        vals_b[upd, cols] = vals_b[upd, cols] + 1 + c
    ins_vals = rng.integers(0, 10_000_000, size=(n_ins, N_QUARTERS))

    def table(keys, ids_, v):
        strs = [pc.cast(pa.array(v[:, j]), pa.string()) for j in range(N_QUARTERS)]
        cols = {"Company": pa.array(keys, pa.string()),
                "Date": pa.array([METRICS[i % len(METRICS)] for i in ids_], pa.string())}
        for j, q in enumerate(quarter_dates()):
            cols[q] = strs[j]
        return pa.table(cols)

    pq.write_table(table(keys_a, ids, vals), os.path.join(out, "snap_a.parquet"), **PQ_OPTS)
    keep = np.ones(rows, dtype=bool)
    keep[dele] = False
    ins_ids = np.arange(rows, rows + n_ins)
    keys_b = np.concatenate([keys_a[keep], np.array([f"K{i:07d}" for i in ins_ids], dtype=object)])
    ids_b = np.concatenate([ids[keep], ins_ids])
    vals_b = np.concatenate([vals_b[keep], ins_vals])
    pq.write_table(table(keys_b, ids_b, vals_b), os.path.join(out, "snap_b.parquet"), **PQ_OPTS)
    # an update picked twice on the same column by two of the four
    # passes still changes that row, so updated rows == n_upd exactly

    # event log: key k has 5 events (the first an insert, the rest
    # updates); 2% of keys end in a delete
    n_keys = events // 5
    k = np.repeat(np.arange(n_keys), 5)
    version = np.tile(np.arange(5), n_keys)
    series = k % 20
    start = int(dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    # distinct, increasing timestamps per key within 2023
    offs = np.sort(rng.integers(0, 365 * 86400 - 10, size=(n_keys, 5)), axis=1)
    offs = offs + np.arange(5)[None, :]  # strict order even on equal draws
    ts = (start + offs.reshape(-1)) * 1_000_000
    deleted = rng.random(n_keys) < 0.02
    etype = np.where(version == 0, "insert", "update").astype(object)
    etype[(version == 4) & np.repeat(deleted, 5)] = "delete"
    payload = rng.integers(0, 1_000_000, size=(n_keys * 5, 2))
    mkeys = pa.array(np.tile(np.array(["c00", "c01"], dtype=object), n_keys * 5), pa.string())
    mvals = pc.binary_join_element_wise(
        "v", pc.cast(pa.array(payload.reshape(-1)), pa.string()), "")
    new_values = pa.MapArray.from_arrays(pa.array(np.arange(0, n_keys * 10 + 1, 2), pa.int32()),
                                         mkeys, mvals)
    log = pa.table({
        "event_id": pc.binary_join_element_wise("e", pc.cast(pa.array(np.arange(n_keys * 5)), pa.string()), ""),
        "event_type": pa.array(etype, pa.string()),
        "company_id": pa.array(np.array(COMPANIES, dtype=object)[series // 4], pa.string()),
        "table_name": pa.array(np.array(STATEMENTS, dtype=object)[series % 4], pa.string()),
        "key_value": pa.array([f"K{i:07d}" for i in (k // 20)], pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "new_values": new_values,
    })
    pq.write_table(log, os.path.join(out, "log.parquet"), **PQ_OPTS)
    expected = {
        "rows_a": rows, "rows_b": rows - n_del + n_ins,
        "inserts": n_ins, "updates": n_upd, "deletes": n_del,
        "quarters": N_QUARTERS,
        "log_events": n_keys * 5, "log_keys": n_keys,
        "log_current": int(n_keys - deleted.sum()),
        "series": 20, "days": 365,
        "start": "2023-01-01", "end": "2023-12-31",
    }
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        for key, v in expected.items():
            f.write(f"{key}\t{v}\n")
    return expected
