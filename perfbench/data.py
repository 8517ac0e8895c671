"""Seeded input generators. Every value is a hash of (seed, row, column), so
the same seed always yields the same rows, whatever the partitioning."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
RETURN_FLAGS = ["A", "N", "R"]

# the eight numeric lineitem-shaped columns and how each is drawn from u in [0, 1)
NUMERIC = {
    "l_orderkey": "CAST(id AS BIGINT)",
    "l_partkey": "CAST(1 + {u} * 20000 AS BIGINT)",
    "l_suppkey": "CAST(1 + {u} * 10000 AS BIGINT)",
    "l_quantity": "1.0D + {u} * 49.0D",
    "l_extendedprice": "900.0D + {u} * 104000.0D",
    "l_discount": "{u} * 0.1D",
    "l_tax": "{u} * 0.08D",
    "l_ship_days": "1.0D + {u} * 120.0D",
}
CATEGORICAL = ["l_returnflag", "l_shipmode"]
TIMESTAMP = "l_shipdate"


def _u(seed: int, salt: int) -> str:
    """Uniform double in [0, 1) keyed by the row id."""
    return f"(pmod(xxhash64(id, {int(seed)}, {int(salt)}), 1000000007) / 1000000007.0D)"


def _pick(values: list[str], u: str) -> str:
    arr = ", ".join(f"'{v}'" for v in values)
    return f"element_at(array({arr}), CAST({u} * {len(values)} AS INT) + 1)"


def lineitem(spark: SparkSession, rows: int, seed: int, null_frac: float = 0.0) -> DataFrame:
    """Lineitem-shaped table: 8 numeric, 2 categorical, 1 timestamp column.
    ``null_frac`` blanks that share of ``l_discount``."""
    exprs = []
    for i, (name, tmpl) in enumerate(NUMERIC.items()):
        expr = tmpl.format(u=_u(seed, 10 + i))
        if name == "l_discount" and null_frac > 0:
            expr = f"CASE WHEN {_u(seed, 90)} < {null_frac!r}D THEN NULL ELSE {expr} END"
        exprs.append(f"{expr} AS {name}")
    exprs += [
        f"{_pick(RETURN_FLAGS, _u(seed, 30))} AS l_returnflag",
        f"{_pick(SHIP_MODES, _u(seed, 31))} AS l_shipmode",
        f"timestamp_seconds(694224000 + CAST({_u(seed, 40)} * 220000000 AS BIGINT)) AS {TIMESTAMP}",
    ]
    return spark.range(rows).selectExpr(*exprs)


def split_pair(base: DataFrame, seed: int, op: int) -> tuple[DataFrame, DataFrame]:
    """Seed- and operation-derived equal-size (ref, curr) split of ``base``,
    with drift planted in curr: ``l_extendedprice`` scaled by 1.25 and 60% of
    the ``TRUCK`` ship modes moved to ``AIR``."""
    h = f"xxhash64(l_orderkey, {int(seed)}, {int(op)})"
    ref = base.where(f"pmod({h}, 2) = 0")
    curr = base.where(f"pmod({h}, 2) = 1").selectExpr(
        *[c for c in base.columns if c not in ("l_extendedprice", "l_shipmode")],
        "l_extendedprice * 1.25D AS l_extendedprice",
        "CASE WHEN l_shipmode = 'TRUCK' AND pmod(xxhash64(l_orderkey, "
        f"{int(seed)}, {int(op)}, 7), 10) < 6 THEN 'AIR' ELSE l_shipmode END AS l_shipmode",
    )
    return ref.select(*base.columns), curr.select(*base.columns)


PLANTED_NUMERIC = ["l_extendedprice"]
PLANTED_CATEGORICAL = ["l_shipmode"]
CONTROL_NUMERIC = [c for c in NUMERIC if c not in PLANTED_NUMERIC]


def daily_batches(spark: SparkSession, rows: int, days: int, seed: int, null_frac: float) -> DataFrame:
    """Lineitem-shaped rows dealt round-robin into ``days`` equal daily
    batches from a seeded offset; the batch label is ``l_day``
    ('day-0000', ...)."""
    return lineitem(spark, rows, seed, null_frac).selectExpr(
        "*",
        f"format_string('day-%04d', CAST(pmod(l_orderkey + {int(seed)}, {int(days)}) AS INT)) AS l_day",
    )


def corpus(spark: SparkSession, originals: int, copies: int, words: int, vocabulary: int,
           drops: int, seed: int) -> DataFrame:
    """Near-duplicate corpus: ``originals`` random documents (ids
    0..originals-1) plus ``copies`` copies of each with up to ``drops``
    seeded word positions removed (ids from ``originals`` up, copy j of
    document o at ``originals + o*copies + j``). Columns: ``doc_id, family,
    text``; ``family`` is the original's id (the ground truth, never shown
    to the engine)."""
    s = int(seed)
    word = f"concat('w', pmod(xxhash64(family, i, {s}), {int(vocabulary)}))"
    dropped = ", ".join(f"pmod(xxhash64(doc_id, {s}, {j}), {int(words)})" for j in range(int(drops)))
    keep = f"NOT array_contains(array({dropped}), CAST(i AS BIGINT))"
    total = originals * (1 + copies)
    return (
        spark.range(total)
        .selectExpr(
            "id AS doc_id",
            f"CASE WHEN id < {originals} THEN id ELSE CAST((id - {originals}) DIV {copies} AS BIGINT) END AS family",
        )
        .selectExpr(
            "doc_id",
            "family",
            f"concat_ws(' ', transform(filter(sequence(0, {int(words) - 1}), "
            f"i -> doc_id < {originals} OR {keep}), i -> {word})) AS text",
        )
    )
