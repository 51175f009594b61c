"""The one storage policy for shared intermediates: ``pin``.

When one bounded intermediate feeds two or more consumers, Spark
re-derives it per consumer unless exchange reuse shares it (below).
Operators pin it once with
``df.transform(pin)``, a lazy ``localCheckpoint``: the first action
that reads the frame computes it into executor storage, and every later
consumer replays that copy.

The storage trade: localCheckpoint truncates lineage to NON-REPLICATED
executor storage, so losing an executor fails the query instead of
recomputing it. That is free and correct on the single-JVM local[*]
topology this repo benches on, but a fault-tolerance trade on a
multi-node cluster. A cluster deployment that prefers recomputable
lineage changes this one function to a reliable ``checkpoint()`` (needs
a checkpoint dir) or ``persist(StorageLevel.MEMORY_AND_DISK_2)``. The
pinned tables are all bounded (sub-corpus-sized by construction), so
either alternative changes cost, not semantics.

When a pin is written. A registered query runs one action, so a pin
there only shares a subtree between consumers of one plan, and Spark
shares such a subtree itself when it ends in a shuffle exchange that
every consumer plans identically: exchange reuse (``ReusedExchange``,
or a reused query stage under AQE) runs it once. A pin on top of that
adds a build-phase job (under AQE, building the checkpoint RDD runs
the pinned subtree's shuffle stages before the query's own action) and
hides the subplan from the plan goldens. So a pin is written only where
Spark cannot share the subtree:

- consumers in different actions or loop iterations: the loop and fit
  kernels (``functions/graph.py``, ``pagerank.py``, ``pq.py``, the
  ``graph_ops`` sweeps), where the pin also caps the lineage the
  planner re-analyses each sweep;
- consumers that must agree on values a re-run would not reproduce:
  sketch bytes whose merge tree depends on the plan, or
  ``spark_partition_id`` over a range partitioning;
- the unpinned plan reads a table more often than the pinned one,
  under the session's default AQE and broadcast settings. Reuse needs
  equal canonical plans, and two things break it: a consumer planned
  as a broadcast join (multimodal_phash_neardup then re-ran its Python
  codec stage per side; funnel_step_latency and time_concurrency_peak
  rescan their fact table), and join-inferred ``isnotnull`` filters
  that land in each consumer's copy (agg_mutual_information: one
  orders scan becomes four). A ``repartition`` does not restore
  reuse, because filters push through it. Such pins measured up to
  1.4-1.5x slower removed (dedup_shingle_containment,
  text_dsir_importance, attr_position_weighted);
- a shared pin that measured slower removed, even though exchange
  reuse covers its scan: each consumer then re-reads the shuffle and
  re-aggregates. Of 16 reuse-covered pins, 7 read above their own A/A
  range in both of two paired ``bench.py --compare`` passes at sf0.1
  (agg_ks_drift, sample_neyman_allocation, stats_kendall_tau,
  agg_chi2_cell_residuals, agg_seasonality_strength,
  time_markov_transitions, ml_calibration_error) and 3 more in both of
  two passes at 8x (agg_rfm_segments, text_source_vocab_overlap,
  time_seasonal_anomaly); those 10 stayed.

A pin with one consumer never saves a recompute; it is not written.
``tests/test_plans.py::PIN_SITES`` counts every call site per file, so
adding or removing a pin means editing that census. To remove one:
count FileScan leaves unpinned against pinned under the default conf,
check ordered rows at sf0.01 and sf0.1, and run paired
``bench.py --compare`` next to an A/A control.
"""

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Pin ``df`` for every consumer downstream (lazy, local storage)."""
    return df.localCheckpoint(eager=False)
