"""SEIR epidemic simulation over neighbor joins.

Parity target: reference ``simulation/EpidemicSimulationSEIR.hpp:21``
(101 LoC): discrete-time SEIR on a graph — susceptible nodes are exposed
by infectious neighbors, exposed incubate tInc steps, infectious recover
after tInf steps; zero = initially infected node.

Spark shape: state table (id, state, timer); one round = one join of
infectious arcs onto susceptible nodes + deterministic seeded infection
coin (probability transP per infectious contact). Returns the per-step
census — the reference's output is exactly these counts over time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint_observe

S, E, I, R = 0, 1, 2, 3


def seir_simulation(
    eu: DataFrame,
    zero: int,
    t_inc: int = 2,
    t_inf: int = 3,
    trans_p: float = 0.5,
    steps: int = 20,
    seed: int = 42,
) -> DataFrame:
    """Run `steps` rounds; returns (step, n_susceptible, n_exposed,
    n_infectious, n_recovered). Infection: a susceptible node with k
    infectious neighbors becomes exposed iff min over contacts of
    hash-u01(src, dst, step, seed) < trans_p (per-contact independent
    coins, deterministic)."""
    spark = eu.sparkSession
    nodes = (
        eu.select(F.col("src").alias("id"))
        .union(eu.select(F.col("dst").alias("id")))
        .distinct()
    )
    # the per-step compartment census is observed DURING the state
    # checkpoint (one Spark job per step; the old shape ran a separate
    # groupBy-collect census job before every update — 2 jobs/step)
    def _census_aggs():
        return [
            F.sum(F.when(F.col("state") == c, 1).otherwise(0)).alias(f"n{c}")
            for c in (S, E, I, R)
        ]

    state, metrics = checkpoint_observe(
        nodes.select(
            "id",
            F.when(F.col("id") == zero, F.lit(I)).otherwise(F.lit(S)).alias("state"),
            F.when(F.col("id") == zero, F.lit(t_inf)).otherwise(F.lit(0)).alias("timer"),
        ),
        *_census_aggs(),
    )
    census = []
    for step in range(steps):
        by = {c: int(metrics[f"n{c}"] or 0) for c in (S, E, I, R)}
        census.append((step, by[S], by[E], by[I], by[R]))
        if (by[E] == 0 and by[I] == 0) or step == steps - 1:
            break
        infectious = state.where(F.col("state") == I).select(F.col("id").alias("src"))
        contacts = (
            eu.join(infectious, "src", "leftsemi")
            .select("src", "dst")
            .withColumn(
                "coin",
                F.pmod(
                    F.xxhash64("src", "dst", F.lit(step), F.lit(seed)), F.lit(10_000)
                )
                < int(trans_p * 10_000),
            )
            .where(F.col("coin"))
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        state, metrics = checkpoint_observe(
            state.join(contacts.withColumn("hit", F.lit(1)), "id", "left")
            .select(
                "id",
                F.when((F.col("state") == S) & F.col("hit").isNotNull(), F.lit(E))
                .when((F.col("state") == E) & (F.col("timer") <= 1), F.lit(I))
                .when((F.col("state") == I) & (F.col("timer") <= 1), F.lit(R))
                .otherwise(F.col("state"))
                .alias("state"),
                F.when((F.col("state") == S) & F.col("hit").isNotNull(), F.lit(t_inc))
                .when((F.col("state") == E) & (F.col("timer") <= 1), F.lit(t_inf))
                .when(F.col("state").isin(E, I), F.col("timer") - 1)
                .otherwise(F.lit(0))
                .alias("timer"),
            ),
            *_census_aggs(),
        )
    # extinction (E = I = 0) is an absorbing state: the early break above
    # skips the dead simulation work, but the census contract is still
    # `steps` rows (the reference's census is fixed-length), so pad the
    # remaining steps with the final compartment counts.
    if census and len(census) < steps:
        last = census[-1]
        for pad_step in range(len(census), steps):
            census.append((pad_step, last[1], last[2], last[3], last[4]))
    return spark.createDataFrame(
        census,
        "step INT, n_susceptible BIGINT, n_exposed BIGINT, n_infectious BIGINT, n_recovered BIGINT",
    )
