"""Seeded benchmark inputs, derived from the fixture copies in ``data/``.

Every table is row-permuted by the seed and split into ``n_files``
parquet files of one row group each, so a scan can use every task slot.
The ``clean_input`` table is lineitem with dirt injected at seeded rows
(see ``make_clean_input``). Sizes depend only on the base fixture and
``clean_rows``, never on the seed. Generation uses pyarrow and numpy only:
the program under test sees nothing but the written files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# dirt shares of clean_input rows; counts are fixed by the row count
NULL_FRAC = 0.02        # l_quantity set NULL
MISMATCH_FRAC = 0.01    # quantity_str holds a non-numeric token
OUTLIER_FRAC = 0.005    # l_extendedprice multiplied by 1000
DUP_FRAC = 0.01         # exact copies of existing rows
EMAIL_FRAC = 0.02       # l_comment carries an e-mail address
VARIANT_FRAC = 0.03     # l_shipmode in another casing
BAD_TOKENS = ("N/A", "unknown", "--", "n.a.")
WORDS = (
    "carefully final deposits sleep quickly among the furiously ironic "
    "packages blithely regular requests haggle slyly express accounts "
    "boost pending theodolites nag above silent pinto beans"
).split()
SHIPMODES = ("AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR")


def write_split(table: pa.Table, path: str, n_files: int) -> dict:
    """Write ``table`` as ``n_files`` one-row-group parquet parts under
    the directory ``path``; returns the files, row groups and rows read
    back from the written footers."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    layout = {"files": n_files, "row_groups": 0, "rows": 0}
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(part, f, row_group_size=max(1, part.num_rows))
        meta = pq.read_metadata(f)
        layout["row_groups"] += meta.num_row_groups
        layout["rows"] += meta.num_rows
    return layout


def _permute(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def make_clean_input(lineitem: pa.Table, rng: np.random.Generator, rows: int) -> pa.Table:
    """The first ``rows`` rows of the (already permuted) lineitem with a
    unique row id ``rid`` (the fixture's (orderkey, linenumber) pairs
    repeat), then dirt at seeded rows: NULLs in ``l_quantity`` and in
    ``quantity_str``, non-numeric ``quantity_str`` tokens (NULLs and
    tokens in one text column of numbers, as in the repository's own
    dirty fixtures), x1000 price outliers, exact duplicate rows, e-mails
    in ``l_comment`` and casing variants of ``l_shipmode``."""
    t = lineitem.select(["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"])
    t = t.slice(0, rows)
    n = t.num_rows
    rid = pa.array(np.arange(n, dtype=np.int64))

    def pick(frac: float) -> np.ndarray:
        mask = np.zeros(n, dtype=bool)
        mask[rng.choice(n, size=int(n * frac), replace=False)] = True
        return mask

    qty = t["l_quantity"].to_numpy(zero_copy_only=False).astype(float)
    qty_str = np.array([f"{q:.1f}" for q in qty], dtype=object)
    bad = pick(MISMATCH_FRAC)
    qty_str[bad] = rng.choice(BAD_TOKENS, size=int(bad.sum()))
    qty_null = pick(NULL_FRAC)
    price = t["l_extendedprice"].to_numpy(zero_copy_only=False).astype(float)
    price = np.where(pick(OUTLIER_FRAC), price * 1000.0, price)
    comment = [" ".join(ws) for ws in rng.choice(WORDS, size=(n, 5))]
    for i in np.flatnonzero(pick(EMAIL_FRAC)):
        comment[i] = f"{comment[i]} contact buyer{i % 997}@example.com"
    mode = rng.choice(SHIPMODES, size=n).astype(object)
    variants = pick(VARIANT_FRAC)
    mode[variants] = [m.lower() if i % 2 else m.title() for i, m in
                      zip(range(int(variants.sum())), mode[variants])]
    t = (
        t.add_column(0, "rid", rid)
        .set_column(t.schema.get_field_index("l_quantity") + 1, "l_quantity",
                    pa.array(qty, mask=qty_null))
        .set_column(t.schema.get_field_index("l_extendedprice") + 1, "l_extendedprice",
                    pa.array(price))
        .append_column("quantity_str", pa.array(qty_str, type=pa.string(),
                                                mask=pick(NULL_FRAC / 2)))
        .append_column("l_comment", pa.array(comment, type=pa.string()))
        .append_column("l_shipmode", pa.array(mode, type=pa.string()))
    )
    dups = t.take(pa.array(np.flatnonzero(pick(DUP_FRAC))))
    return _permute(pa.concat_tables([t, dups]), rng)


def generate(out_dir: str, seed: int, n_files: int, base: str = "sf0.01",
             clean_rows: int = 6000) -> dict:
    """Write every seeded input under ``out_dir`` and return the layout:
    ``{table: {"files": n, "row_groups": n, "rows": n}}``."""
    src = os.path.join(DATA_DIR, base)
    layout = {}
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        t = _permute(pq.read_table(os.path.join(src, f"{name}.parquet")), rng)
        layout[name] = write_split(t, os.path.join(out_dir, f"{name}.parquet"), n_files)
        if name == "lineitem":
            c = make_clean_input(t, np.random.default_rng([seed, 100]), clean_rows)
            layout["clean_input"] = write_split(
                c, os.path.join(out_dir, "clean_input.parquet"), n_files)
    return layout
