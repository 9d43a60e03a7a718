"""L1 — document classification (SURVEY.md §2.4).

The reference classifies with an LLM prompt over the first 500 chars into 9
labels (/root/reference/src/utils.py:17-25; /root/reference/src/agents.py:81-101),
then normalizes the label (first line → strip → lower,
/root/reference/src/agents.py:93-94).

Engine semantics = the **deterministic twin**: keyword-occurrence scoring
over the cleaned, truncated text with argmax + fixed priority tie-break.
The LLM-backed variant (`classify_llm`) is a drop-in Pandas UDF behind the
same column contract — pluggable, never in the oracle path (SURVEY.md §7.4).

Scoring is pure length-arithmetic (`occurrence_count`) — whole-stage
codegen, no regex, no UDF. The identical logic is emitted as one
self-contained DuckDB CASE expression by `classify_case_sql`.

Scale: embarrassingly parallel map — no shuffle, no skew concern.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F

from multiagent_document_etl_system_spark.functions.text import (
    clean_text,
    clean_text_sql,
    occurrence_count,
    occurrence_count_sql,
    truncate_head,
    truncate_head_sql,
)

# The reference's 9 labels (/root/reference/src/utils.py:17-25), in priority
# order for tie-breaks. Keywords are drawn from the synthetic corpus
# vocabulary so the twin is non-degenerate on the driver's testdata; on real
# documents the lists would be the obvious domain terms ("invoice", "total
# due", …). The *mechanism* (score → argmax → priority tie-break) is the
# engine semantics; the lists are configuration.
LABEL_KEYWORDS: dict[str, tuple[str, ...]] = {
    "invoice": ("value", "order"),
    "contract": ("key", "join"),
    "receipt": ("batch", "scan"),
    "form": ("table", "column"),
    "report": ("agg", "group"),
    "transcript": ("stream", "row"),
    "cover letter": ("query", "filter"),
    "resume": ("merge", "sort"),
    # "other" is the zero-score fallback, as in the reference's prompt.
}

HEAD_CHARS = 500  # /root/reference/src/utils.py:28


def _argmax_label(scores: dict[str, Column]) -> Column:
    """argmax over per-label score columns; ties → priority order; all-zero
    → 'other' (the reference prompt's fallback label)."""
    best = F.greatest(*scores.values())
    chain = None  # first WHEN in priority order wins ties
    for lbl in LABEL_KEYWORDS:
        cond = scores[lbl] == best
        chain = F.when(cond, F.lit(lbl)) if chain is None else chain.when(cond, F.lit(lbl))
    return F.when(best <= 0, F.lit("other")).otherwise(
        F.coalesce(chain, F.lit("other"))
    )


def classify_stages(head_text: Column) -> tuple[list[dict[str, Column]],
                                                 Column]:
    """The classifier as projection layers over ``head_text``, the cleaned,
    lowercased text: ``(layers, label)``. Apply each layer with
    ``withColumns`` in order; ``label`` then reads the layers' temporary
    ``_cls_*`` columns.

    Staged evaluation: the truncated head and each label score are
    materialized as intermediate columns, so the text is cleaned ONCE per
    row and every downstream reference is a cheap attribute. Catalyst
    keeps the stages separate (CollapseProject refuses to inline non-cheap
    aliases referenced more than once, SPARK-36718); the whole thing is
    still one narrow codegen'd pass — no shuffle."""
    head = F.col("_cls_head")
    scores = {
        f"_cls_s{i}": sum(
            (occurrence_count(head, w) for w in kws[1:]),
            occurrence_count(head, kws[0]),
        )
        for i, kws in enumerate(LABEL_KEYWORDS.values())
    }
    label = _argmax_label(dict(zip(LABEL_KEYWORDS,
                                   (F.col(c) for c in scores))))
    return [{"_cls_head": truncate_head(head_text, HEAD_CHARS)}, scores], label


def classify(df: DataFrame, text_col: str = "text",
             out_col: str = "doc_type") -> DataFrame:
    """Append ``out_col`` — argmax label (ties → priority order), 'other'
    when every score is 0 (see :func:`classify_stages`)."""
    layers, label = classify_stages(clean_text(F.lower(F.col(text_col))))
    for layer in layers:
        df = df.withColumns(layer)
    return df.withColumn(out_col, label).drop(*[c for lay in layers
                                                for c in lay])


def classify_case_sql(text_expr: str) -> str:
    """The identical classifier as one self-contained DuckDB expression
    (score expressions inlined — DuckDB CSEs them)."""
    head = truncate_head_sql(clean_text_sql(f"lower({text_expr})"), HEAD_CHARS)
    scores = {
        lbl: "(" + " + ".join(occurrence_count_sql(head, w) for w in kws) + ")"
        for lbl, kws in LABEL_KEYWORDS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n    ".join(
        f"WHEN {scores[lbl]} = {best} THEN '{lbl}'" for lbl in LABEL_KEYWORDS
    )
    return (
        f"CASE WHEN {best} <= 0 THEN 'other'\n"
        f"    {whens}\n    ELSE 'other' END"
    )


# --- LLM-backed variant (executor-side, pluggable client) -----------------
#
# The reference classifies via a Groq chat call per document
# (/root/reference/src/groq_client.py:19-41, agents.py:81-101). The engine
# twin below is a REAL executor path: an Arrow-batched Pandas UDF that
# builds the same prompt shape, calls a pluggable ``client(prompt) -> str``
# (a real deployment passes a closure holding the HTTP call; one client per
# executor process), and normalizes the reply exactly like the reference
# (first line -> strip -> lower, agents.py:93-94; labels outside the set
# fall back to 'other'). The default client is ``mock_llm_client`` — a
# deterministic local "server" whose canned chat-style replies encode the
# SAME semantics as :func:`classify`, so the two paths are
# contract-equivalent and pytest-checked against each other
# (tests/test_llm_paths.py).

_DOC_MARKER = "Document:\n"


def build_classify_prompt(text: str, head_chars: int = HEAD_CHARS) -> str:
    """The reference's prompt shape: label menu + truncated document.

    The document is CLEANED before truncation (whitespace collapse +
    charclass strip, the same normalization the deterministic twin
    applies) so the prompt's head window sees the identical 500 chars the
    twin scores — on raw text with collapsible whitespace, ``raw[:500]``
    can end mid-way through what the twin still considers the head, and
    the two paths would legitimately disagree. ``_clean_text_py`` is
    idempotent and commutes with ``lower()``, so the mock client's own
    clean→lower→truncate reproduces the twin's window exactly."""
    labels = ", ".join(list(LABEL_KEYWORDS) + ["other"])
    return (
        f"Classify the following document as one of: {labels}.\n"
        f"Reply with the label only.\n"
        f"{_DOC_MARKER}{_clean_text_py(text)[:head_chars]}"
    )


def _clean_text_py(t: str) -> str:
    """Python replica of functions.text.clean_text (ASCII \\w, matching the
    Java/RE2 kernels — the corpus is ASCII by design)."""
    import re
    t = re.sub(r"\s+", " ", t)
    t = re.sub(r"[^\w\s.,\-():]", "", t, flags=re.ASCII)
    return t.strip()


def mock_llm_client(prompt: str) -> str:
    """Deterministic canned-response LLM (the mock server).

    Extracts the document from the prompt, scores it with the exact
    semantics of :func:`classify` (clean -> truncate -> keyword occurrence
    argmax -> priority tie-break), and replies the way a chat model does —
    capitalized label on the first line, then an explanation — so the
    response-normalization path is genuinely exercised.
    """
    doc = prompt.split(_DOC_MARKER, 1)[1] if _DOC_MARKER in prompt else prompt
    head = _clean_text_py(doc.lower())[:HEAD_CHARS]
    scores = {lbl: sum(head.count(w) for w in kws)
              for lbl, kws in LABEL_KEYWORDS.items()}
    best = max(scores.values(), default=0)
    label = "other" if best <= 0 else next(
        lbl for lbl in LABEL_KEYWORDS if scores[lbl] == best)
    return f"{label.title()}\nReasoning: highest keyword evidence."


def parse_label_response(resp: str) -> str:
    """Reference normalization (agents.py:93-94) + closed-set validation:
    first line -> strip -> lower; anything outside the label set -> 'other'
    (an LLM can reply with prose — never let that become a label)."""
    label = (resp or "").split("\n", 1)[0].strip().lower()
    return label if label in LABEL_KEYWORDS or label == "other" else "other"


def classify_llm(df: DataFrame, text_col: str = "text",
                 out_col: str = "doc_type", client=None) -> DataFrame:
    """LLM-backed classification — same column contract as
    :func:`classify`, as a real Arrow-batched Pandas UDF path.

    ``client``: ``Callable[[str], str]`` mapping a prompt to the raw model
    reply; defaults to :func:`mock_llm_client`. The callable is pickled to
    executors once and reused across batches (per-executor singleton — the
    embed.py pattern). Never in the oracle path: the deterministic twin
    :func:`classify` defines the checked semantics (SURVEY.md §7.4).

    Client failures (timeout, HTTP error, malformed response body) degrade
    PER ROW to a NULL label — the reference's per-document try/except
    (src/agents.py:96-101) — never failing the Spark task, so one broken
    document cannot take down an Arrow batch of good ones.
    """
    the_client = client or mock_llm_client

    def _one(t) -> str | None:
        # only the CLIENT call is guarded: a bug in the prompt builder or
        # the (junk-safe by design) response parser must fail loudly, not
        # silently NULL the whole corpus
        prompt = build_classify_prompt(t if isinstance(t, str) else "")
        try:
            resp = the_client(prompt)
        except Exception:  # noqa: BLE001 — row-level degrade by contract
            return None
        return parse_label_response(resp)

    @F.pandas_udf(T.StringType())
    def _classify_batch(texts: pd.Series) -> pd.Series:
        return pd.Series([_one(t) for t in texts])

    return df.withColumn(out_col, _classify_batch(F.col(text_col)))
