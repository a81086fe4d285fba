"""Sequence packing for training-batch construction (beyond-reference):
greedy first-fit packing of documents into fixed token-budget sequences.

Packing is inherently sequential (each pack boundary depends on the
running total before it), so it cannot be a closed-form window expression.
The scale shape: documents are hash-partitioned into independent groups
(the same md5 discipline as the split/shard operators), and the greedy
scan runs per group inside ``applyInPandas`` — Arrow-batched, one group
per task, no driver involvement. At 100 TB each group is a few GB and
groups pack in parallel across executors; determinism comes from the
hash group key + doc_id order, not from partition layout.

Executors import this package as the driver does:
``tables.tune_session`` puts the repository root on the worker
``PYTHONPATH``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = (
    "grp INT, pack_seq BIGINT, doc_id BIGINT, n_tokens BIGINT, "
    "pack_total BIGINT"
)


def pack_sequences(
    docs: DataFrame,
    budget: int = 128,
    n_groups: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy first-fit-in-order packing: within each hash group, walk
    documents in ``doc_id`` order and start a new pack whenever the next
    document would overflow ``budget`` (documents never straddle packs;
    oversized documents get a singleton pack).

    Token counts use the est-BPE heuristic (``ceil(n_chars / 4)``),
    matching :func:`multisql_spark.operators.textan.token_stats`.

    Returns one row per document: its group, pack index within the group,
    token count, and the final total of its pack.
    """

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_seq, totals = [], []
        cur_pack, cur_total = 0, 0
        for n in pdf["n_tokens"]:
            if cur_total > 0 and cur_total + n > budget:
                totals.extend([cur_total] * (len(pack_seq) - len(totals)))
                cur_pack += 1
                cur_total = 0
            pack_seq.append(cur_pack)
            cur_total += n
        totals.extend([cur_total] * (len(pack_seq) - len(totals)))
        return pd.DataFrame(
            {
                "grp": pdf["grp"],
                "pack_seq": pack_seq,
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "pack_total": totals,
            }
        )

    base = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("n_tokens"),
    ).withColumn(
        "grp",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
                16,
                10,
            ).cast("int")
            % n_groups
        ),
    )
    return base.groupBy("grp").applyInPandas(pack, PACK_SCHEMA)
