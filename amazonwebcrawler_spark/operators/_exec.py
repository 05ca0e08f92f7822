"""Execution-scope helpers shared by the crawl loop and the iterative
graph operators.

``_scoped_conf`` sets SQL confs for a ``with`` block and restores the
previous values on exit, also when the block raises. Conf reads happen at
ACTION time, so a scope must enclose the actions it is meant to govern.

* ``CrawlEngine.run`` runs every crawl wave under
  ``plans/crawler.WAVE_CONF``: adaptive execution off, because the wave
  plan is explicitly partitioned and broadcast-hinted, and AQE would only
  split each of its actions into one Spark job per query stage.
* ``coalesced_stages`` turns AQE partition coalescing on around an
  operator's INTERNAL materializations: the iterative graph ops run dozens
  of sequential exchanges over byte-tiny tables, where every
  shuffle-partitions-wide stage (and every checkpointed RDD that later
  broadcasts or counts) is pure scheduling overhead. Coalescing is the
  scale-ADAPTIVE answer: AQE targets ``advisoryPartitionSizeInBytes``, so
  a 10^10-edge graph keeps full parallelism while a host-level graph runs
  1-task stages (measured: scc 14.4 s → see OPTIMIZATION_r06.md). The
  session factory (``session.get_spark``) already sets
  ``spark.sql.adaptive.coalescePartitions.enabled=true``, and perfbench
  and the tests use that default, so there the scope changes nothing; it
  matters only under ``bench.py``, whose session pins it ``false`` so that
  byte-based coalescing does not collapse the CPU-heavy Python fetch
  stages to 1-2 tasks. That is also why the iterative ops materialize
  their final result eagerly inside the scope instead of leaving it to the
  caller's first action.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def _scoped_conf(spark, overrides: dict):
    olds = {}
    for k, v in overrides.items():
        try:
            olds[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset key
            olds[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in olds.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


@contextmanager
def coalesced_stages(spark):
    # (an AQE-off variant of this scope was prototyped for the query legs
    # and REJECTED there — static planning loses their unhinted tiny-side
    # broadcasts and pays 64-partition sort-merge exchanges; measured in
    # OPTIMIZATION_r06.md. The crawl wave hints every broadcast, so it
    # runs AQE-off: plans/crawler.WAVE_CONF)
    with _scoped_conf(
        spark, {"spark.sql.adaptive.coalescePartitions.enabled": "true"}
    ):
        yield
