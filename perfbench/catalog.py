"""Seeded synthetic FITS BINTABLE catalog for the ingest workload.

Columns mix the types a survey catalog carries: ``K``/``J``/``I``
integers (``nobs`` has a TNULL sentinel), ``D``/``E`` floats, an ``A``
string and a ``B`` bit-flag byte. Every ``COMPRESS_EVERY``-th tile is
written tile-compressed, so both decode paths run.

The catalog leaves out a vector (``nE``) column and ``X`` bit arrays:
the CSV sink rejects ARRAY and BINARY columns, and tile compression
rejects ``X``, so one ``cli.run`` over such a tile would fail.
"""

from __future__ import annotations

import os

import numpy as np

TNULL_NOBS = -1
COMPRESS_EVERY = 4


def tile_columns(rng: np.random.Generator, first_id: int, n: int) -> list:
    nobs = rng.integers(0, 200, n)
    nobs[rng.random(n) < 0.05] = TNULL_NOBS
    return [
        ("objid", "K", list(range(first_id, first_id + n))),
        ("nobs", "J", nobs.tolist()),
        ("band", "I", rng.integers(0, 6, n).tolist()),
        ("ra", "D", rng.uniform(0.0, 360.0, n).tolist()),
        ("dec", "D", np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n))).tolist()),
        ("mag", "E", rng.uniform(12.0, 26.0, n).astype(np.float32).tolist()),
        ("name", "A12", [f"J{i:011d}" for i in range(first_id, first_id + n)]),
        ("flags", "B", rng.integers(0, 256, n).tolist()),
    ]


def expected_stats(columns: list) -> dict:
    """Row count, null count and exact integer column sums the loaded table
    must reproduce."""
    cols = {name: values for name, _, values in columns}
    nobs = [v for v in cols["nobs"] if v != TNULL_NOBS]
    return {
        "rows": len(cols["objid"]),
        "nobs_nulls": len(cols["nobs"]) - len(nobs),
        "objid": sum(cols["objid"]),
        "nobs": sum(nobs),
        "band": sum(cols["band"]),
        "flags": sum(cols["flags"]),
    }


def write_catalog(out_dir: str, seed: int, tiles: int, rows: int) -> list[tuple[str, dict]]:
    """Write ``tiles`` FITS files of ``rows`` rows each; returns
    ``[(path, expected_stats), ...]``."""
    from fits2db_spark.sources.fits import write_fits_bintable
    from fits2db_spark.sources.fits_compress import write_fits_bintable_compressed

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    out = []
    for t in range(tiles):
        cols = tile_columns(rng, t * rows, rows)
        cards = [("TNULL2", TNULL_NOBS)]
        path = os.path.join(out_dir, f"tile{t:03d}.fits")
        with open(path, "wb") as f:
            if t % COMPRESS_EVERY == COMPRESS_EVERY - 1:
                write_fits_bintable_compressed(cols, tile_len=1000, out=f, extra_cards=cards)
            else:
                write_fits_bintable(cols, out=f, extra_cards=cards)
        out.append((path, expected_stats(cols)))
    return out
