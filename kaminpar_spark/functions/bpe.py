"""Distributed BPE merge learning (Sennrich et al. 2016) — the scalable
word-frequency-dict formulation.

Classic byte-pair-encoding tokenizer training: start from characters (plus a
'</w>' end-of-word marker), repeatedly find the most frequent adjacent symbol
pair in the corpus and merge it into one symbol. The 100 TB shape is the one
BPE trainers actually use: aggregate the corpus to a (word, freq) dictionary
FIRST — pair statistics are identical, but every subsequent round runs over
the vocabulary (millions of rows) instead of the corpus (trillions of
tokens). Per round:

  1. pair counts: one explode of adjacent-symbol pairs + one hash aggregate
     weighted by word freq (map-side partial agg absorbs the skew — 'e','s'
     style pairs appear in most words),
  2. argmax pair: a 1-row orderBy().first() with the deterministic
     (count DESC, left ASC, right ASC) tie-break,
  3. merge application: a map-only JVM `aggregate` fold over each word's
     symbol array — exact greedy left-to-right semantics (a fold can never
     merge across its own output: the merged symbol left||right only equals
     `left` if `right` is empty, which cannot occur).

No Python UDFs, no windows, no driver-side corpus data — only the 3-column
merge table rides the driver. DuckDB reproduces every round bit-for-bit with
run-parity window selection over (word, pos) rows (`__spark_entry__.py`
`_bpe_sql`), which is provably equivalent to the greedy fold: within a
maximal run of consecutive overlapping matches, greedy takes the 1st, 3rd,
5th, ... occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kaminpar_spark.plans.lineage import release
from kaminpar_spark.plans.superstep import run_supersteps

END_WORD = "</w>"


def _sq(s: str) -> str:
    """SQL single-quoted literal."""
    return "'" + s.replace("'", "''") + "'"


def word_dict(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — whitespace-token frequency dictionary of the corpus."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def bpe_learn(
    docs: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
    words: DataFrame | None = None,
) -> DataFrame:
    """(merge_round, merge_left, merge_right, pair_count, tokens_after) —
    the first ``rounds`` learned BPE merges over the corpus, plus the total
    corpus token count after each merge is applied.

    ``words`` optionally supplies a pre-built (word, freq) dictionary
    (`word_dict` output, e.g. persisted once and reused across tokenizer
    experiments); when given, the corpus pass is skipped entirely."""
    spark = docs.sparkSession
    init = (words if words is not None else word_dict(docs, text_col)).select(
        "word",
        "freq",
        F.expr(
            "concat(transform(sequence(1, length(word)),"
            f" i -> substr(word, i, 1)), array({_sq(END_WORD)}))"
        ).alias("toks"),
    )
    merges, records = [], []

    def step(state: DataFrame, i: int) -> DataFrame:
        pairs = (
            state.select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with(slice(toks, 1, size(toks) - 1),"
                        " slice(toks, 2, size(toks) - 1),"
                        " (a, b) -> struct(a AS l, b AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "l", "r").first()
        a, b = best["l"], best["r"]
        merges.append((i + 1, a, b, int(best["cnt"])))
        la, lb, lm = _sq(a), _sq(b), _sq(a + b)
        return state.select(
            "word",
            "freq",
            F.expr(
                "aggregate(toks, cast(array() AS array<string>),"
                " (acc, t) -> CASE WHEN size(acc) > 0"
                f" AND element_at(acc, -1) = {la} AND t = {lb}"
                " THEN concat(slice(acc, 1, size(acc) - 1),"
                f" array({lm}))"
                " ELSE concat(acc, array(t)) END)"
            ).alias("toks"),
        )

    def metrics(new: DataFrame) -> dict:
        return {"tokens_after": int(new.agg(F.sum(F.col("freq") * F.size("toks"))).first()[0])}

    release(
        run_supersteps(
            init, step, metrics, lambda m: False, rounds,
            on_metrics=lambda i, m: records.append(merges[i] + (m["tokens_after"],)),
        )
    )
    return spark.createDataFrame(
        records,
        "merge_round long, merge_left string, merge_right string,"
        " pair_count long, tokens_after long",
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "toks",
) -> DataFrame:
    """docs + ``out_col`` array<string>: tokenize each doc's words with an
    already-learned merge list (applied in learn order — standard BPE
    inference). Map-only: one fold per merge, no shuffles at all."""
    expr = (
        f"transform(filter(split({text_col}, '\\\\s+'), w0 -> w0 <> ''), w ->"
        " concat(transform(sequence(1, length(w)), i -> substr(w, i, 1)),"
        f" array({_sq(END_WORD)})))"
    )
    for lvl, (a, b) in enumerate(merges):
        la, lb, lm = _sq(a), _sq(b), _sq(a + b)
        v, t = f"ts{lvl}", f"t{lvl}"
        expr = (
            f"transform({expr}, {v} ->"
            f" aggregate({v}, cast(array() AS array<string>),"
            f" (acc, {t}) -> CASE WHEN size(acc) > 0"
            f" AND element_at(acc, -1) = {la} AND {t} = {lb}"
            f" THEN concat(slice(acc, 1, size(acc) - 1), array({lm}))"
            f" ELSE concat(acc, array({t})) END))"
        )
    return docs.withColumn(out_col, F.flatten(F.expr(expr)))
