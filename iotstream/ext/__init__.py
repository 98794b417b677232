"""EXT — LLM-data-pipeline operators (mandated beyond the reference's
surface, SURVEY.md §2.10): deduplication, similarity search, multimodal
columns, text analysis, plus star-schema joins/windows. All native
Column expressions except where genuinely impossible (multimodal decode
is a Pandas-UDF stub — the media libs aren't in this container)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def checkpoint_observed(
    df: DataFrame, **aggs: Column
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` and measure it in one action.

    Returns ``(df.localCheckpoint(), {name: value})``, where each value
    is the aggregate ``aggs[name]`` over ``df``'s rows, observed by the
    checkpoint's own jobs: no separate counting action runs. Empty
    input yields each aggregate's empty-input value (``count`` → 0).
    Every call uses its own unnamed ``Observation``, so repeated calls
    never collide."""
    obs = Observation()
    observed = df.observe(obs, *(c.alias(k) for k, c in aggs.items()))
    out = observed.localCheckpoint()  # the action that fills ``obs``
    return out, obs.get
