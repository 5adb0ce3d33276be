"""SCD2 history builder (operators/history.py)."""

from pyspark.sql import functions as F

from niamoto_spark.operators.history import scd2_history


def _log(spark):
    return spark.createDataFrame(
        [("u1", 100, 1, "bronze"),
         ("u1", 200, 2, "bronze"),   # re-statement: no new episode
         ("u1", 300, 3, "gold"),
         ("u1", 400, 4, "bronze"),   # back to bronze: NEW episode
         ("u2", 150, 5, "silver")],
        ["user", "ts", "eid", "tier"])


def test_episodes_and_intervals(spark):
    h = scd2_history(_log(spark), ["user"], "ts", ["tier"],
                     order_cols=["eid"])
    rows = {(r["user"], r["valid_from"]): r for r in h.collect()}
    assert len(rows) == 4  # 3 u1 episodes + 1 u2
    first = rows[("u1", 100)]
    assert (first["tier"], first["valid_to"], first["is_current"]) == \
        ("bronze", 300, False)
    gold = rows[("u1", 300)]
    assert (gold["tier"], gold["valid_to"]) == ("gold", 400)
    back = rows[("u1", 400)]
    assert (back["tier"], back["valid_to"], back["is_current"]) == \
        ("bronze", None, True)
    assert rows[("u2", 150)]["is_current"] is True


def test_no_collapse_mode_keeps_every_row(spark):
    h = scd2_history(_log(spark), ["user"], "ts", ["tier"],
                     order_cols=["eid"], collapse_consecutive=False)
    assert h.count() == 5


def test_null_attribute_states(spark):
    df = spark.createDataFrame(
        [("u", 1, None), ("u", 2, None), ("u", 3, "x")],
        ["user", "ts", "attr"])
    h = scd2_history(df, ["user"], "ts", ["attr"]).collect()
    # two nulls collapse into one episode; null -> 'x' opens a new one
    assert len(h) == 2


def test_single_exchange_plan(spark):
    """Collapse + interval windows share one shuffle (same partitioning
    and ordering) — the plan must contain exactly one Exchange."""
    h = scd2_history(_log(spark), ["user"], "ts", ["tier"],
                     order_cols=["eid"])
    plan = h._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
