"""W1 — adjacent-segment boundary-word overlap flag (pa.py:311-330).

Reference semantics, preserved exactly (SURVEY §2.1-W1 / Appendix bug B4):
- "adjacent" means adjacent among SURVIVORS of the text filters, not
  adjacent in the audio — so this window is applied AFTER F4-F6;
- comparison is lowercase last-word of the previous segment vs lowercase
  first word of the current one (pa.py:319-326);
- a match sets the flag on BOTH rows (pa.py:327-328) -> lag and lead;
- default False (pa.py:298); null-safe via coalesce.

One shuffle on original_name; within-file order is (start_ms) which
reproduces the reference's file-sorted sequential scan. `overlap_flags` is
the same rule over one file's survivors in Python, for run_pipeline's
per-file stage (pipeline.py), which needs no shuffle: a file's segments
never leave the task that decoded it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tts_etl_pipeline_spark.audio.filters import words


def with_overlap_flag(df: DataFrame) -> DataFrame:
    w = W.partitionBy("original_name").orderBy("start_ms")
    words = F.split(F.lower(F.trim("text")), r"\s+")
    first_word = F.element_at(words, 1)
    last_word = F.element_at(words, -1)
    prev_last = F.lag(last_word).over(w)
    next_first = F.lead(first_word).over(w)
    overlap = F.coalesce(prev_last == first_word, F.lit(False)) | F.coalesce(
        next_first == last_word, F.lit(False)
    )
    return df.withColumn("overlap_flag", overlap)


def overlap_flags(texts: list[str | None]) -> list[bool]:
    """`with_overlap_flag` over one file's texts in start_ms order: the
    words are split(lower(trim(text)), '\\s+') as Spark splits them, and a
    NULL text matches nothing."""
    split = [None if t is None else words(t.lower()) for t in texts]
    first = [None if w is None else w[0] for w in split]
    last = [None if w is None else w[-1] for w in split]
    flags = [False] * len(texts)
    for i in range(1, len(texts)):
        if last[i - 1] is not None and last[i - 1] == first[i]:
            flags[i - 1] = flags[i] = True
    return flags
