"""Cross-family one-pass sketch rollup build.

The three sketch rollup families (HLL distinct counts — :mod:`.distinct`,
KLL quantiles — :mod:`.quantiles`, theta set algebra — :mod:`.theta`)
aggregate over the IDENTICAL group-by key, so ONE scan can build them all.
:func:`build_sketch_rollups` lives beside the lifecycle it drives, in
:mod:`.sketch_retention`, as the one function every sketch build goes
through; this module keeps its original import path.
"""

from __future__ import annotations

from .sketch_retention import build_sketch_rollups

__all__ = ["build_sketch_rollups"]
