"""Line-level cleaning stage for extracted text: C4 rules as a narrow
DataFrame operator.

Applies c4_keep_line (the C4 corpus line rules — terminal punctuation,
>= 5 words, no brace / lorem-ipsum / javascript markers) to of a text column and reports the doc-level keep decision
(>= `min_lines` surviving lines). Entirely JVM array lambdas inside one
projection: preserves input partitioning, no shuffle, no Python — the
same narrow-operation contract as operators/extract.py, so it composes
after extraction (or anywhere in a curation chain) for free at 10^12
rows. The kernel itself is value-checked cross-engine by the
`c4f1_line_filter` battery entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def c4_keep_line(line):
    """C4's line-level keep rule (Raffel et al. 2020 §2.2, the 'C4' corpus
    rules), as one JVM boolean expression over a line Column: kept iff the
    trimmed line ends in terminal punctuation, has >= 5 whitespace words,
    and contains no '{', no 'lorem ipsum', and no 'javascript' word. Shared
    by c4f1 and any caller composing it over extracted text."""
    s = F.trim(line)
    return (
        (F.length(s) > 0)
        & F.substring(s, -1, 1).isin(".", "!", "?", '"')
        & (F.size(F.split(s, r"\s+")) >= 5)
        & ~s.contains("{")
        & ~F.lower(s).contains("lorem ipsum")
        & ~F.array_contains(F.split(F.lower(s), r"\s+"), "javascript")
    )


def clean_lines(
    df: DataFrame, text_col: str = "text", *, min_lines: int = 3
) -> DataFrame:
    """Add (clean_text, n_lines, n_kept, keep_doc) next to `text_col`.

    clean_text is the surviving lines rejoined with '\\n' (empty string
    when nothing survives); keep_doc is the C4 page rule: at least
    `min_lines` lines survive. Rows are NOT filtered — callers decide
    whether to `.filter("keep_doc")` or keep the attribution columns
    (a funnel reports both)."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, c4_keep_line)
    return (
        df.withColumn("clean_text", F.array_join(kept, "\n"))
        .withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept", F.size(kept).cast("long"))
        .withColumn("keep_doc", F.size(kept) >= F.lit(min_lines))
    )
