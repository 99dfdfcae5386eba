"""Numpy kernels that run inside Python workers.

A worker unpickles a UDF closure's module-level functions by reference,
which imports their module there.  This module imports nothing from the
package, so a scoring closure costs its workers a numpy import only, not
the operator and lake packages.
"""

from __future__ import annotations

import numpy as np


def round6_half_away(x):
    """``x`` (a numpy array) rounded to 6 decimals the way DuckDB's
    ``round(x, 6)`` computes it, ``std::round(x * 1e6) / 1e6``: half away
    from zero on the double ``x * 1e6``, where ``np.round`` rounds half to
    even (0.9499985 -> 0.949999 here, 0.949998 there).  Spark's ``F.round``
    rounds half up too.  ``a - floor(a)`` is exact for a double, so the
    half test is exact."""
    a = np.abs(x * 1e6)
    r = np.floor(a)
    return np.copysign(r + (a - r >= 0.5), x) / 1e6


def cosine_hits(sims, threshold: float, mask):
    """Row and column indices, and the rounded cosines, of the entries of
    the score block ``sims`` (where ``mask`` holds) whose cosine rounded
    by :func:`round6_half_away` reaches ``threshold``.  Rounding moves a
    value by at most 5e-7, so only the entries within 1e-6 below the
    threshold are rounded, not the whole block."""
    ii, jj = np.nonzero((sims >= threshold - 1e-6) & mask)
    cos = round6_half_away(sims[ii, jj])
    keep = cos >= threshold
    return ii[keep], jj[keep], cos[keep]
