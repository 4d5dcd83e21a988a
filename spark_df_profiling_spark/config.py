"""Profiling configuration.

One config object controls the exact-vs-approximate duality everywhere
(SURVEY.md §7 "what's hard" item 2): the DuckDB oracle runs in exact mode,
the 100 TB scale path defaults to sketches (HLL++ distinct counts,
percentile_approx quantiles).
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class ProfileConfig:
    """Settings for :func:`spark_df_profiling_spark.profile`.

    Mirrors the reference's ``ProfileReport(df, bins=10, sample=5,
    corr_reject=0.9)`` signature (``__init__.py::ProfileReport``, public
    v1.1.13) and adds the exactness switches and the decimal quirk fix
    the reference lacks.  ``corr_reject=None`` skips the correlation
    matrix and CORR rejection.  Execution tuning (chunk caps, size
    bands, sketch precision) lives next to the code it tunes.
    """

    # --- reference-compatible knobs -------------------------------------
    bins: int = 10                 # histogram bins (reference default)
    sample: int = 5                # head-sample rows for the report
    corr_reject: float | None = 0.9  # Pearson threshold for CORR rejection
    top_k: int = 50                # frequency-table depth (reference: 50)

    # --- exact vs approximate (scale switches) ---------------------------
    exact_distinct: bool = False   # False => approx_count_distinct (HLL++)
    exact_quantiles: bool = False  # False => percentile_approx

    # --- quirk fix (reference quirk preserved when False) ----------------
    # The reference hardcodes n_infinite = 0 (base.py::describe_1d); we
    # always count real infinities because it costs nothing in the wide agg.
    # Decimal columns: the reference mis-dispatches parameterized
    # decimal(p,s) (SURVEY §1.2); fix_decimal=True routes them to NUM.
    fix_decimal: bool = True

    def exact(self) -> "ProfileConfig":
        """Return a copy in fully-exact mode (for oracle parity tests)."""
        return replace(self, exact_distinct=True, exact_quantiles=True)


DEFAULT_CONFIG = ProfileConfig()
EXACT_CONFIG = ProfileConfig().exact()
