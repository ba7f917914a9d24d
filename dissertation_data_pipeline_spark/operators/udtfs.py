"""[EXT] Python UDTF extension point (Spark 4 `@udtf`).

The engine's hot paths are codegen expressions and Arrow-batched pandas
UDFs (operators/text_udf.py); Python UDTFs are the third extension
surface Spark 4 adds — a *table* function usable from SQL (LATERAL
join), for logic that emits a variable number of rows per input and
genuinely cannot be a column expression. They run row-at-a-time in
Python, so they are NOT for the data plane at 100 TB — this module
exists to prove the extension point works and document its place:
prototype in a UDTF, then graduate to posexplode/codegen (compare
``ext_chunk_documents``, the codegen equivalent of exactly this
splitter).
"""

from __future__ import annotations

from pyspark.sql.functions import lit, udtf


@udtf(returnType="pos int, chunk string, n_tokens int")
class ChunkText:
    """Emit one row per fixed-size token chunk of the input text —
    the UDTF-prototype twin of the codegen chunker
    (`plans/queries_dedup.ext_chunk_dedup_clean`)."""

    def eval(self, text: str, chunk_tokens: int):  # noqa: D102
        if text is None:
            return
        # SQL-surface argument validation: range()'s 'arg 3 must not be
        # zero' / int(None) TypeError are cryptic task failures; reject
        # the bad argument with a message the SQL user can act on
        if chunk_tokens is None or int(chunk_tokens) <= 0:
            raise ValueError(
                f"chunk_text: chunk_tokens must be a positive integer, "
                f"got {chunk_tokens!r}"
            )
        toks = text.split(" ")
        k = int(chunk_tokens)
        for i in range(0, len(toks), k):
            part = toks[i : i + k]
            yield i // k, " ".join(part), len(part)


def register_udtfs(spark) -> None:
    """Register the UDTF surface for SQL users (LATERAL-joinable)."""
    spark.udtf.register("chunk_text", ChunkText)


__all__ = ["ChunkText", "register_udtfs", "lit"]
