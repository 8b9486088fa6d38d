"""Structured-output (LLM prediction) evaluation — the post-inference
data ops of the reference's daily evaluation job.

Reference surface: ``MachineLearning/Ray/zephyr/daily_eval.py:200-358``
prompts a model to emit a JSON array of ``{"Action": …, "ChimeraType":
…}`` objects constrained to fixed vocabularies, then scores answers by
exact agreement; ``template_dataset.py:12-60`` defines the same
contract at training time. The data-engineering half of that loop —
parse the emitted JSON, reject malformed output, flag out-of-vocabulary
field values, exact-match against gold — is pure column work and runs
here entirely JVM-side: ``from_json`` with an explicit schema (no
sampling inference), ``exists``/``forall`` array lambdas for
vocabulary checks, canonical re-serialization for semantic equality.
No UDF, no Python in the hot path, map-only (scan-speed at any scale).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def oov_count(parsed: Column, field: str, allowed: Sequence[str]) -> Column:
    """How many array elements carry a ``field`` value outside the
    ``allowed`` vocabulary (the reference's valid-options contract).
    Null field values count as out-of-vocabulary."""
    vocab = F.array(*[F.lit(v) for v in allowed])
    return F.size(
        F.filter(
            parsed,
            lambda x: ~F.coalesce(
                F.array_contains(vocab, x[field]), F.lit(False)
            ),
        )
    )


def structured_output_eval(
    df: DataFrame,
    pred_col: str,
    gold_col: str,
    schema: str,
    allowed: Mapping[str, Sequence[str]] | None = None,
) -> DataFrame:
    """Full scoring frame: parses prediction and gold with the same
    schema and adds

    - ``is_valid_json`` — prediction parsed (non-null);
    - ``n_items`` — parsed array length (-1 when invalid);
    - ``oov_<field>`` — out-of-vocabulary element count per entry of
      ``allowed`` (null when invalid);
    - ``exact_match`` — semantic equality of prediction and gold
      (compared via canonical re-serialization of the TYPED values, so
      whitespace / key order / number formatting differences in the raw
      strings don't matter).
    """
    pred = F.from_json(F.col(pred_col), schema)
    gold = F.from_json(F.col(gold_col), schema)
    out = df.withColumn("__pred", pred).withColumn("__gold", gold)
    cols = [
        F.col("__pred").isNotNull().alias("is_valid_json"),
        F.when(F.col("__pred").isNotNull(), F.size("__pred"))
        .otherwise(F.lit(-1))
        .alias("n_items"),
    ]
    for field, vocab in (allowed or {}).items():
        cols.append(
            F.when(
                F.col("__pred").isNotNull(),
                oov_count(F.col("__pred"), field, vocab),
            ).alias(f"oov_{field.lower()}")
        )
    cols.append(
        (
            F.col("__pred").isNotNull()
            & F.col("__gold").isNotNull()
            & (F.to_json(F.col("__pred")) == F.to_json(F.col("__gold")))
        ).alias("exact_match")
    )
    return out.select("*", *cols).drop("__pred", "__gold")


def accuracy_summary(
    scored: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """The daily readout: validity rate, exact-match rate, mean items —
    one aggregate (optionally per group, e.g. per day or task)."""
    g = scored.groupBy(*group_cols) if group_cols else scored.groupBy()
    return g.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("is_valid_json").cast("double")).alias("valid_rate"),
        F.avg(F.col("exact_match").cast("double")).alias("exact_match_rate"),
        F.avg(
            F.when(F.col("n_items") >= 0, F.col("n_items").cast("double"))
        ).alias("mean_items"),
    )


def token_f1(
    df: DataFrame,
    id_col: str,
    pred_col: str,
    gold_col: str,
    sep: str = " ",
) -> DataFrame:
    """Per-row token-overlap F1 (the SQuAD-style generation metric:
    multiset precision/recall between predicted and reference tokens).
    Overlap = Σ_tok min(count_pred, count_gold), computed distributed:
    explode each side to (id, token, count) frames — partial-aggregated
    map-side — join on (id, token), reduce per id. Totals come from the
    map-side token counts, so the whole metric is two hash aggregates
    and one join keyed by (id, token); no per-row Python, no quadratic
    work in document length.

    Returns ``id + n_pred + n_gold + overlap + precision + recall +
    f1`` (empty/both-null rows: F1 0 by convention)."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(pred_col), F.lit("")).alias("__p"),
        F.coalesce(F.col(gold_col), F.lit("")).alias("__g"),
    )

    def counts(col: str, out: str) -> DataFrame:
        return (
            base.select(
                "id",
                F.explode(
                    F.filter(F.split(F.col(col), sep), lambda t: t != "")
                ).alias("tok"),
            )
            .groupBy("id", "tok")
            .agg(F.count(F.lit(1)).alias(out))
        )

    p, g = counts("__p", "pc"), counts("__g", "gc")
    overlap = (
        p.join(g, ["id", "tok"])
        .groupBy("id")
        .agg(F.sum(F.least(F.col("pc"), F.col("gc"))).alias("overlap"))
    )
    sizes = base.select(
        "id",
        F.size(F.filter(F.split(F.col("__p"), sep), lambda t: t != ""))
        .alias("n_pred"),
        F.size(F.filter(F.split(F.col("__g"), sep), lambda t: t != ""))
        .alias("n_gold"),
    )
    j = sizes.join(overlap, "id", "left").na.fill({"overlap": 0})
    prec = F.when(F.col("n_pred") > 0, F.col("overlap") / F.col("n_pred")).otherwise(
        F.lit(0.0)
    )
    rec = F.when(F.col("n_gold") > 0, F.col("overlap") / F.col("n_gold")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    return j.select(
        F.col("id").alias(id_col),
        "n_pred",
        "n_gold",
        F.col("overlap").cast("long").alias("overlap"),
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    )
