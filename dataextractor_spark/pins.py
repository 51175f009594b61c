"""The one storage policy for shared intermediates: ``pin``.

When one bounded intermediate feeds two or more consumers, Spark
re-derives it per consumer. Operators pin it once with
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

Whether a pin pays (4 cores, sf0.1, pinned against unpinned):

- consumers sit in different actions or loop iterations: the pin
  replaces a re-derivation per action, and in a loop it also caps the
  lineage the planner re-analyses each sweep;
- the re-derived subtree is expensive, such as a Python stage, an
  explode or a wide shuffle: dedup_shingle_containment,
  text_dsir_importance and attr_position_weighted ran 1.4-1.5x slower
  unpinned;
- a pin with one consumer never saves a recompute. It only adds a job
  boundary: under AQE, building the checkpoint RDD runs the pinned
  subtree's shuffle stages before the query's own action. Such pins
  are removed.
- a narrow subtree over a page-cached scan measured within noise
  either way: 0.89-1.14x unpinned, and no query ran faster unpinned in
  9 of 10 paired runs. Those pins stay until a measurement says
  otherwise; the trade may flip once data leaves the page cache.

A pin stays regardless of timing when its consumers must agree on
values a re-run would not reproduce: sketch bytes whose merge tree
depends on the plan, or ``spark_partition_id`` over a range
partitioning.
"""

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Pin ``df`` for every consumer downstream (lazy, local storage)."""
    return df.localCheckpoint(eager=False)
