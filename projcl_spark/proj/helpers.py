"""Shared projection math helpers (vectorized numpy, float64).

Re-implementations of the reference's device/host helper functions:
``pl_qsfn``/``pl_phi2``/``pl_mod_pi`` (``/root/reference/kernel/peel.opencl:34-57``)
and ``_pl_mlfn``/``_pl_qsfn``/``_pl_msfn``/``_pl_tsfn``
(``/root/reference/src/projcl_run.c:214-233``), plus the first-derivative
``pl_mlfn1`` (``kernel/pl_project_american_polyconic.opencl:12-17``).
Standard Snyder/PROJ-lineage formulas; written fresh for numpy broadcasting.
"""

from __future__ import annotations

import numpy as np

PHI2_ITER = 20  # I_ITER, peel.opencl:10
PHI2_TOL = 1e-12  # ITOL


def qsfn(sinphi, e: float, one_es: float):
    """Authalic-latitude q function."""
    con = e * sinphi
    return one_es * (sinphi / (1.0 - con * con) + np.arctanh(con) / e)


def msfn(sinphi, cosphi, es: float):
    return cosphi / np.sqrt(1.0 - es * sinphi * sinphi)


def tsfn(phi, sinphi, e: float):
    con = e * sinphi
    return np.tan(0.5 * (np.pi / 2 - phi)) / ((1.0 - con) / (1.0 + con)) ** (0.5 * e)


def mlfn(phi, sphi, cphi, en):
    """Meridional distance series."""
    cphi = cphi * sphi
    sphi = sphi * sphi
    return en[0] * phi - cphi * (en[1] + sphi * (en[2] + sphi * (en[3] + sphi * en[4])))


def mlfn1(phi, sphi, cphi, en):
    """d(mlfn)/d(phi)."""
    cphi = cphi * cphi
    sphi = sphi * sphi
    return en[0] - (
        en[1] * (cphi - sphi)
        + sphi
        * (
            en[2] * (3 * cphi - sphi)
            + sphi * (en[3] * (5 * cphi - sphi) + sphi * (en[4] * (7 * cphi - sphi)))
        )
    )


def phi2(log_ts, e: float):
    """Iterative isometric→geographic latitude (conformal inverse)."""
    phi = -np.arctan(np.sinh(log_ts))
    for _ in range(PHI2_ITER):
        con = e * np.sin(phi)
        dphi = -np.arctan(np.sinh(log_ts - e * np.arctanh(con))) - phi
        phi = phi + dphi
        if np.all(np.abs(dphi) <= PHI2_TOL):
            break
    return phi


def mod_pi(lam):
    """Wrap longitude (radians) to (-pi, pi]."""
    return np.where(np.abs(lam) > np.pi, lam - np.copysign(2.0 * np.pi, lam), lam)

