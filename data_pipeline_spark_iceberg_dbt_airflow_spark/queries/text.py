"""Text-analysis operators over the ``documents`` table.

The reference's only string handling is column renames and casts
(/root/reference/README.md:368-384); these operators are the
training-data-pipeline extension set: per-document statistics, quality
scoring, language identification, BPE-style token counting, and
rolling-hash fingerprinting.

Registry budget note (round 3): ONE consolidated per-document profile
query (was 5 single-facet ones). Every facet is per-row over the same
scan, so the merge is exactly what a production curation pipeline runs: a
single pass emitting the full quality/statistics record per document --
five separate scans of a 100 TB corpus would be pure waste. The per-source
token-budget rollup that text_token_bpe carried is an ordinary groupBy
over this profile's bpe_tokens column (aggregation is covered by §2.4
queries; asserted in tests/test_llm_ops.py).

Everything stays JVM-side: built-in regexp / array / lambda expressions
(higher-order functions run inside whole-stage codegen), zero Python UDFs.
The query is a narrow per-row projection -- no shuffle at all; it never
moves the text itself downstream, only small derived values.

Cross-engine notes: Spark (Java regex) and DuckDB (RE2) spell Unicode
escapes differently (``\\uXXXX`` vs ``\\x{XXXX}``) -- patterns are written
per-engine with identical semantics. Ratios are single double divisions of
exact integers (deterministic, order-free), never float aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from ..operators.pii import (
    PII_PATTERNS,
    pii_count,
    pii_count_sql,
    redact_pii,
    redact_pii_sql,
    synth_pii,
    synth_pii_sql,
)
from .registry import register

#: English stopword marker set for quality scoring (tiny on purpose: the
#: operator shape -- lambda filter over a token array against a broadcast
#: list -- is what scales, the lexicon is pluggable).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

_TOKS = r"regexp_extract_all(text, '\\S+', 0)"
_O_TOKS = r"regexp_extract_all(text, '\S+')"

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


def _toks() -> Column:
    return F.expr(_TOKS)


# The per-document profile comes from the Arrow kernel whenever the
# locale probe passes; the Catalyst expression tree stays as the
# reference rendering (the same formulas as the DuckDB oracle), pinned
# bit-equal to the kernel by the differential test in
# tests/test_llm_ops.py, and the fallback when the probe fails.
# Rationale (r12, VERDICT r11 task: doc_quality is the DAG's most
# expensive stage at 4M): the profile's cost is spread across HOF folds
# (token stats, per-4gram md5 fingerprint, array_sort 2-gram run
# counting -- all CodegenFallback, interpreted per element) and five
# regexp families that each rescan the text; the kernel does ONE Python
# pass per doc sharing the tokenization across every family, with
# hashlib/re at C speed (the shingle-kernel playbook, queries/dedup.py).
# Same locale caveat as the shingle kernel: str.lower() mirrors JVM
# lower() only under root/en, enforced by the runtime probe.

#: Output column order of text_profile -- shared by both renderings and
#: by the kernel's Arrow batch assembly. Types mirror the expression
#: path exactly (length/size -> int, ratios -> double, md5 -> string).
_PROFILE_SCHEMA = (
    "doc_id bigint, lang string, char_cnt int, token_cnt int,"
    " uniq_token_cnt int, punct_cnt int, bpe_tokens int,"
    " avg_token_len double, stop_ratio double, alpha_ratio double,"
    " quality_score double, pred_lang string, fingerprint string,"
    " rep_2gram_frac double, pii_email_cnt int, pii_phone_cnt int,"
    " pii_ip_cnt int, pii_ssn_cnt int, pii_clean_hash string"
)


def _profile_arrow_types():
    import pyarrow as pa

    typ = {
        "bigint": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "string": pa.string(),
    }
    return [
        (f.split()[0], typ[f.split()[1]])
        for f in _PROFILE_SCHEMA.split(",")
    ]


def _profile_rows_kernel(docs: DataFrame) -> DataFrame:
    """Arrow ``mapInArrow`` rendering of the text profile.

    Bit-equal to :func:`_profile_rows_expr` by construction, term by
    term (the differential test pins it on the real corpus plus NULL /
    empty / whitespace-only / non-ASCII / NBSP fixtures):

    - Java ``\\S`` / ``\\s`` are the ASCII classes ONLY; every Python
      pattern spells the class out (the round-4 lesson, same as the
      shingle kernel) -- tokens ``[^ \\t\\n\\x0b\\f\\r]+``, the BPE
      pre-tokenizer's ``[^A-Za-z0-9\\s]`` arm likewise.
    - PII patterns compile under ``re.ASCII`` so ``\\d``/``\\b`` match
      Java's ASCII definitions (Python's default ``\\d`` eats Unicode
      digits, which would over-count on exotic text).
    - ``length``/``size`` count code points -- Python ``len`` ditto
      (Spark's Length is UTF8String.numChars, not UTF-16 units).
    - double arithmetic is the same IEEE ops in the same order
      (ratios: one int->double divide; quality: left-associated
      s*0.3 + a*0.4 + l*0.3).
    - ``lower`` -> ``str.lower()`` (root/en locale only -- gated by
      ``dedup._kernel_locale_ok`` at dispatch); ``trim`` strips 0x20
      only; ``split(s, ' ')`` keeps empty fields (both engines).
    - fingerprint: md5 hexdigests compare bytewise = Spark UTF8 string
      ordering on lowercase hex; ``array_sort`` on strings is UTF-8
      byte order = Python code-point sort (UTF-8 preserves code-point
      order), so the 2-gram longest-run count is identical.
    - NULL text: every stat NULL, ``pred_lang`` 'und' (the expression's
      CASE falls through NULL conditions to the ELSE) -- mirrored
      explicitly.

    Scale shape identical to the expression path: embarrassingly
    parallel over doc rows, no shuffle, no state; the stage's only
    exchange remains the guarded widen (plan-asserted in
    tests/test_metrics.py).
    """
    import pyarrow as pa

    def gen(batches):
        import hashlib
        import re

        md5 = hashlib.md5
        tok_re = re.compile(r"[^ \t\n\x0b\f\r]+")
        punct_re = re.compile(r"[.,;:!?]")
        alpha_re = re.compile(r"[A-Za-z]")
        bpe_re = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0b\f\r]")
        ws_re = re.compile(r"[ \t\n\x0b\f\r]+")
        lang_res = (
            (re.compile("[一-鿿]"), "zh"),
            (re.compile("[äöüß]"), "de"),
            (re.compile("[ñ¿¡]"), "es"),
            (re.compile("[çœàèù]"), "fr"),
        )
        pii_res = [
            (re.compile(p, re.ASCII), tag) for _, p, tag in PII_PATTERNS
        ]
        stopset = frozenset(STOPWORDS)

        arrow_types = _profile_arrow_types()
        for batch in batches:
            cols = batch.to_pydict()
            n = len(cols["doc_id"])
            o = {name: [None] * n for name, _ in arrow_types}
            o["doc_id"] = cols["doc_id"]
            o["lang"] = cols["lang"]
            for i in range(n):
                text, ptext = cols["text"][i], cols["ptext"][i]
                if ptext is not None:
                    red = ptext
                    for (rx, tag), name in zip(
                        pii_res, ("email", "phone", "ip", "ssn")
                    ):
                        o[f"pii_{name}_cnt"][i] = len(rx.findall(ptext))
                        red = rx.sub(tag, red)
                    o["pii_clean_hash"][i] = md5(
                        red.encode("utf-8")
                    ).hexdigest()
                if text is None:
                    o["pred_lang"][i] = "und"
                    continue
                char_cnt = len(text)
                toks = tok_re.findall(text)
                tc = len(toks)
                alpha = len(alpha_re.findall(text))
                o["char_cnt"][i] = char_cnt
                o["token_cnt"][i] = tc
                o["uniq_token_cnt"][i] = len(set(toks))
                o["punct_cnt"][i] = len(punct_re.findall(text))
                o["bpe_tokens"][i] = len(bpe_re.findall(text))
                if tc > 0:
                    o["avg_token_len"][i] = sum(map(len, toks)) / tc
                    stop_ratio = (
                        sum(1 for x in toks if x in stopset) / tc
                    )
                    o["stop_ratio"][i] = stop_ratio
                if char_cnt > 0:
                    alpha_ratio = alpha / char_cnt
                    o["alpha_ratio"][i] = alpha_ratio
                if tc > 0 and char_cnt > 0:
                    o["quality_score"][i] = (
                        stop_ratio * 0.3
                        + alpha_ratio * 0.4
                        + (min(tc, 100) / 100) * 0.3
                    )
                pred = "en" if alpha > 0 else "und"
                for rx, code in lang_res:
                    if rx.search(text):
                        pred = code
                        break
                o["pred_lang"][i] = pred
                wt = ws_re.sub(" ", text.lower()).strip(" ").split(" ")
                nw = len(wt)
                if nw >= 4:
                    o["fingerprint"][i] = min(
                        md5(
                            " ".join(wt[j : j + 4]).encode("utf-8")
                        ).hexdigest()
                        for j in range(nw - 3)
                    )
                if nw >= 2:
                    g2 = sorted(
                        " ".join(wt[j : j + 2]) for j in range(nw - 1)
                    )
                    best, run, prev = 0, 0, None
                    for g in g2:
                        run = run + 1 if g == prev else 1
                        prev = g
                        if run > best:
                            best = run
                    o["rep_2gram_frac"][i] = best / len(g2)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o[name], type=typ)
                    for name, typ in arrow_types
                ],
                [name for name, _ in arrow_types],
            )

    return docs.select("doc_id", "lang", "text", "ptext").mapInArrow(
        gen, schema=_PROFILE_SCHEMA
    )


@register(
    "text_profile",
    oracle=rf"""
        WITH c AS (
            SELECT doc_id, lang, text,
                   length(text) AS char_cnt,
                   len({_O_TOKS}) AS token_cnt,
                   len(list_distinct({_O_TOKS})) AS uniq_token_cnt,
                   len(regexp_extract_all(text, '[.,;:!?]')) AS punct_cnt,
                   list_sum(list_transform({_O_TOKS}, x -> length(x)))
                       AS tok_len_sum,
                   len(list_filter({_O_TOKS}, x -> x IN ({_STOP_SQL})))
                       AS stop_cnt,
                   len(regexp_extract_all(text, '[A-Za-z]')) AS alpha_cnt,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens,
                   string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
                       AS wt,
                   {synth_pii_sql()} AS ptext
            FROM documents)
        SELECT doc_id, lang,
               char_cnt, token_cnt, uniq_token_cnt, punct_cnt, bpe_tokens,
               CASE WHEN token_cnt > 0
                    THEN CAST(tok_len_sum AS DOUBLE) / token_cnt END
                   AS avg_token_len,
               CASE WHEN token_cnt > 0
                    THEN CAST(stop_cnt AS DOUBLE) / token_cnt END AS stop_ratio,
               CASE WHEN char_cnt > 0
                    THEN CAST(alpha_cnt AS DOUBLE) / char_cnt END AS alpha_ratio,
               CASE WHEN token_cnt > 0 AND char_cnt > 0
                    THEN (CAST(stop_cnt AS DOUBLE) / token_cnt) * 0.3
                       + (CAST(alpha_cnt AS DOUBLE) / char_cnt) * 0.4
                       + (CAST(LEAST(token_cnt, 100) AS DOUBLE) / 100) * 0.3
                    END AS quality_score,
               CASE WHEN len(regexp_extract_all(text, '[\x{{4E00}}-\x{{9FFF}}]')) > 0
                         THEN 'zh'
                    WHEN len(regexp_extract_all(text, '[äöüß]')) > 0 THEN 'de'
                    WHEN len(regexp_extract_all(text, '[ñ¿¡]')) > 0 THEN 'es'
                    WHEN len(regexp_extract_all(text, '[çœàèù]')) > 0 THEN 'fr'
                    WHEN alpha_cnt > 0 THEN 'en'
                    ELSE 'und' END AS pred_lang,
               CASE WHEN len(wt) >= 4 THEN
                   list_min(list_transform(range(len(wt) - 3),
                       i -> md5(wt[i+1] || ' ' || wt[i+2] || ' ' || wt[i+3]
                                || ' ' || wt[i+4])))
               ELSE NULL END AS fingerprint,
               CASE WHEN len(wt) >= 2 THEN
                   CAST(list_max(list_transform(
                            list_distinct(g2),
                            d -> len(list_filter(g2, x -> x = d))))
                        AS DOUBLE) / len(g2)
               ELSE NULL END AS rep_2gram_frac,
               {pii_count_sql("ptext", "email")} AS pii_email_cnt,
               {pii_count_sql("ptext", "phone")} AS pii_phone_cnt,
               {pii_count_sql("ptext", "ip")} AS pii_ip_cnt,
               {pii_count_sql("ptext", "ssn")} AS pii_ssn_cnt,
               md5({redact_pii_sql("ptext")}) AS pii_clean_hash
        FROM (SELECT *,
                     list_transform(range(len(wt) - 1),
                         i -> wt[i+1] || ' ' || wt[i+2]) AS g2
              FROM c)
    """,
    doc="Per-document text profile, consolidated (was text_stats + "
    "text_quality + text_langid + text_token_bpe's per-row count + "
    "text_fingerprint): char/token/distinct-token/punctuation counts and "
    "average token length; stopword ratio (fluency proxy), alphabetic "
    "ratio (noise proxy) and their weighted quality score -- the standard "
    "cheap pre-filter before model-based scoring; BPE-style pre-tokenizer "
    "count (alpha runs / single digits / single symbols, the GPT-2 "
    "pre-tokenizer's coarse shape) for token-budget accounting; "
    "script/diacritic language-ID priority chain (the synthetic corpus is "
    "pure-ASCII so pred_lang=='en' throughout -- the operator shape is "
    "the deliverable; a deployment swaps in an n-gram frequency model "
    "over identical plumbing); and the rolling-hash fingerprint "
    "(winnowing-lite: md5 over each word 4-gram, keep the lexicographic "
    "min -- near-dup docs sharing their minimal 4-gram collide); and the "
    "Gopher-style repetition signal rep_2gram_frac (round 4: fraction of "
    "word 2-grams claimed by the single most-repeated 2-gram, the "
    "standard boilerplate/degenerate-text filter); and the PII facet "
    "(round 4, operators/pii.py): per-type detection counts (email/"
    "phone/IPv4/SSN-shaped, engine-portable regex dialect) plus the "
    "md5 of the tag-redacted text -- detection and redaction are the "
    "real curation operators, run over deterministically synthesized "
    "spans (synth_pii; the word-salad corpus is PII-free, same posture "
    "as synth_media) and hash-checked span-for-span against DuckDB's "
    "RE2. Spark computes the "
    "top-gram count as an O(n log n) sorted-run fold (array_sort + one "
    "aggregate pass); the oracle states the naive distinct-count-max "
    "formula -- both are exact integer counts, so they hash-match by "
    "construction. ONE "
    "codegen'd scan, zero KEY shuffle, zero Python (the only exchange is "
    "the guarded round-robin widen for under-split scans): at 100 TB this "
    "emits the whole curation record per document for the cost of "
    "reading it once.",
    bench=True,
    tags=("text", "llm-data"),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Regexp/array work is CPU-bound; a single-split scan would run it all
    # on one core. The widen is a guarded no-op on well-split inputs.
    # synth_pii plants deterministic PII spans (the corpus itself is
    # PII-free word salad) so the detect/redact columns are exercised.
    docs = synth_pii(read_table(spark, sf_dir, "documents", widen=True))
    # the kernel shares the shingle kernel's one environmental
    # assumption (str.lower() vs JVM lower() under root/en) and its
    # runtime guard
    from .dedup import _kernel_locale_ok

    if _kernel_locale_ok(spark):
        return _profile_rows_kernel(docs)
    return _profile_rows_expr(docs)


def _profile_rows_expr(docs: DataFrame) -> DataFrame:
    """The Catalyst expression rendering of the profile (the original
    text_profile body): one codegen'd scan, zero Python. Kept as the
    cross-engine reference `_profile_rows_kernel` is differenced
    against (tests/test_llm_ops.py) and as the automatic fallback on a
    non-root/en JVM locale."""
    t = _toks()
    token_cnt = F.size(t)
    char_cnt = F.length("text")
    sum_len = F.aggregate(
        F.transform(t, lambda x: F.length(x)), F.lit(0), lambda acc, v: acc + v
    )
    stop_cnt = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    alpha_cnt = F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z]', 0)"))
    bpe = F.size(
        F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]', 0)")
    )

    def _hits(pat: str) -> Column:
        return F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")) > 0

    stop_ratio = stop_cnt.cast("double") / token_cnt
    alpha_ratio = alpha_cnt.cast("double") / char_cnt
    length_credit = F.least(token_cnt, F.lit(100)).cast("double") / 100
    pred = (
        F.when(_hits(r"[\\u4E00-\\u9FFF]"), "zh")
        .when(_hits("[äöüß]"), "de")
        .when(_hits("[ñ¿¡]"), "es")
        .when(_hits("[çœàèù]"), "fr")
        .when(alpha_cnt > 0, "en")
        .otherwise("und")
    )
    wt = F.split(F.expr(r"trim(regexp_replace(lower(text), '\\s+', ' '))"), " ")
    # IF guards on BOTH n-gram transforms (r12, found by the kernel
    # differential's short-doc fixtures): sequence(0, n) with n < 0
    # DESCENDS ([0, -1, ...]), so an unguarded transform indexes wt out
    # of bounds and ANSI mode crashes the whole scan on any doc with
    # fewer than 4 (fp) / 2 (g2) normalized tokens -- the outer
    # when(size(wt) >= k) guards only the CONSUMING fold, not the array
    # build. Guarded rows produce the same arrays as before, so every
    # oracle hash is unchanged; short docs now yield empty arrays
    # (array_min(array()) = NULL) exactly as the when() already stated.
    fp = F.array_min(
        F.expr(
            "IF(size(wt) >= 4, transform(sequence(0, size(wt) - 4),"
            " i -> md5(encode(concat_ws(' ', wt[i], wt[i+1], wt[i+2], wt[i+3]),"
            " 'UTF-8'))), array())"
        )
    )
    # Top-2-gram count via one fold over the SORTED gram array: equal
    # grams are adjacent after the sort, so the longest run IS the max
    # frequency -- O(n log n) row-side, no per-distinct rescans (the
    # oracle's naive formula is O(n * distinct); both count exactly).
    top2 = F.expr(
        "aggregate("
        " array_sort(g2),"
        " named_struct('prev', cast(null as string), 'run', 0, 'best', 0),"
        " (acc, g) -> named_struct("
        "   'prev', g,"
        "   'run', IF(g <=> acc.prev, acc.run + 1, 1),"
        "   'best', GREATEST(acc.best, IF(g <=> acc.prev, acc.run + 1, 1))),"
        " acc -> acc.best)"
    )
    g2 = F.expr(
        "IF(size(wt) >= 2, transform(sequence(0, size(wt) - 2),"
        " i -> concat_ws(' ', wt[i], wt[i+1])), array())"
    )
    return docs.withColumn("wt", wt).withColumn("g2", g2).select(
        "doc_id",
        "lang",
        char_cnt.alias("char_cnt"),
        token_cnt.alias("token_cnt"),
        F.size(F.array_distinct(t)).alias("uniq_token_cnt"),
        F.size(F.expr(r"regexp_extract_all(text, '[.,;:!?]', 0)")).alias(
            "punct_cnt"
        ),
        bpe.alias("bpe_tokens"),
        F.when(token_cnt > 0, sum_len.cast("double") / token_cnt).alias(
            "avg_token_len"
        ),
        F.when(token_cnt > 0, stop_ratio).alias("stop_ratio"),
        F.when(char_cnt > 0, alpha_ratio).alias("alpha_ratio"),
        F.when(
            (token_cnt > 0) & (char_cnt > 0),
            stop_ratio * 0.3 + alpha_ratio * 0.4 + length_credit * 0.3,
        ).alias("quality_score"),
        pred.alias("pred_lang"),
        F.when(F.size("wt") >= 4, fp).alias("fingerprint"),
        F.when(
            F.size("wt") >= 2, top2.cast("double") / F.size("g2")
        ).alias("rep_2gram_frac"),
        *[
            pii_count(F.col("ptext"), n).alias(f"pii_{n}_cnt")
            for n, _, _ in PII_PATTERNS
        ],
        F.md5(F.encode(redact_pii(F.col("ptext")), "UTF-8")).alias(
            "pii_clean_hash"
        ),
    )


#: Reserved vocabulary slots (ids 0..3); real tokens start at id 4.
SPECIAL_TOKENS = ("<pad>", "<unk>", "<bos>", "<eos>")


def build_vocab(docs: DataFrame, size: int = 1000) -> DataFrame:
    """Tokenizer-vocabulary builder: top-``size`` whitespace tokens by
    frequency, assigned dense contiguous ids after the reserved specials
    (<pad>=0 <unk>=1 <bos>=2 <eos>=3).

    The precursor every tokenizer training run needs: scan the corpus
    once, count tokens, keep the head of the frequency distribution.
    Determinism: ties break lexicographically, so the same corpus always
    yields the same (token -> id) map regardless of partitioning -- a
    vocab that drifts between runs silently re-labels every training
    shard.

    Scale shape: one map-side-combinable groupBy(token) count (the only
    full shuffle; token strings are short), then a TakeOrdered top-V --
    per-partition heaps, never a global sort of the distinct-token set
    (which at 100 TB is billions of rows of long tail). The id-assigning
    window runs AFTER the limit, over at most ``size`` rows -- a bounded
    SinglePartition window, same class as the 256-row offset table in
    train_global_shuffle. OOV handling is the consumer's lookup default
    to <unk>.
    """
    counts = (
        docs.select(F.explode(_toks()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    top = counts.orderBy(F.desc("count"), F.asc("token")).limit(size)
    w = Window.orderBy(F.desc("count"), F.asc("token"))
    ranked = top.select(
        "token",
        "count",
        (F.row_number().over(w) + len(SPECIAL_TOKENS) - 1).alias("token_id"),
    )
    specials = docs.sparkSession.createDataFrame(
        [(t, 0, i) for i, t in enumerate(SPECIAL_TOKENS)],
        "token string, count long, token_id int",
    )
    return specials.unionByName(ranked.select("token", "count", "token_id"))


#: build_vocab id of the OOV fallback token.
UNK_ID = SPECIAL_TOKENS.index("<unk>")


def encode_docs(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Encode documents to token-id arrays against a ``build_vocab``
    vocabulary (OOV tokens -> <unk>): the final text-side step before
    chunk/pack/shuffle/shard turn ids into training sequences.

    Plan shape: posexplode tokens with their positions, ONE broadcast
    equi-join against the vocab (vocabularies are 32k-256k rows -- far
    under broadcast thresholds; the corpus side never shuffles for the
    lookup), then per-doc reassembly via a map-side-combinable
    collect_list sorted by position (array_sort on (pos, id) structs --
    order is restored deterministically regardless of which partition
    delivered which token, so the aggregate needs no ordered shuffle).
    Documents with no tokens encode as empty arrays via the final left
    join. At 100 TB the explode multiplies rows ~tokens-per-doc but
    carries only (doc_id, pos, 8-byte id) -- never text -- into the
    single groupBy shuffle.
    """
    toks = docs.select(
        "doc_id", F.posexplode(_toks()).alias("pos", "token")
    )
    enc = toks.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        "doc_id",
        F.struct(
            F.col("pos"),
            F.coalesce("token_id", F.lit(UNK_ID)).alias("tid"),
        ).alias("pt"),
    )
    assembled = enc.groupBy("doc_id").agg(
        F.expr("transform(array_sort(collect_list(pt)), x -> x.tid)").alias(
            "token_ids"
        )
    )
    return (
        docs.select("doc_id")
        .join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "token_ids", F.expr("CAST(array() AS ARRAY<INT>)")
            ).alias("token_ids"),
        )
    )


# --- corpus-trained n-gram LM quality scoring -------------------------------

#: Interpolation weight of the bigram term; the remainder backs off to
#: the add-alpha unigram.
LM_LAMBDA = 0.75
LM_ALPHA = 1.0


def train_bigram_lm(docs: DataFrame) -> tuple[DataFrame, DataFrame, int, int]:
    """Count-based bigram LM over the corpus' whitespace tokens.

    Returns (unigram_counts, bigram_counts, total_tokens, vocab_size) --
    the sufficient statistics for interpolated add-alpha scoring. Both
    count tables come from one map-side-combinable groupBy each; the
    scalar totals are one aggregate row (model-sized driver collect).

    Scale shape: the model tables are corpus-SUBLINEAR (distinct tokens
    / distinct adjacent pairs, Zipf-bounded in practice) while the
    exploded token stream is linear -- so counting is the same shape as
    ``build_vocab``, and scoring (below) joins the linear stream against
    sublinear tables instead of shuffling documents.
    """
    toks = docs.select(F.col("doc_id"), _toks().alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) < 2 THEN"
                    " CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)"
                    " ELSE transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2)) END"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    totals = uni.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    return uni, bi, int(totals["n"] or 0), int(totals["v"] or 0)


def lm_score_docs(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    total_tokens: int,
    vocab_size: int,
    lam: float = LM_LAMBDA,
    alpha: float = LM_ALPHA,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document cross-entropy under the bigram LM -- the perplexity
    quality signal: natural text scores low, boilerplate/garbled/
    wrong-language text scores high, and filtering on the score is the
    classic curation gate (the role KenLM plays in CCNet-style
    pipelines, here trained on the corpus itself).

    p(w2|w1) = lam * c(w1,w2)/c(w1) + (1-lam) * (c(w2)+alpha)/(N+alpha*V)

    Output: (doc_id, n_bigrams, cross_entropy, perplexity); documents
    with fewer than 2 tokens score NULL.

    Plan shape: the exploded bigram stream joins the two model tables on
    their keys (equi-joins against corpus-sublinear sides; never a
    product). ``broadcast_model=True`` (default, right when the model
    fits executor memory) hints the model side; pass False on a corpus
    whose distinct-bigram table outgrows broadcast so Spark picks a
    partitioned join instead -- the hint is a knob, not hard-coded. And
    the per-doc mean accumulates log-probs in exact DECIMAL, so scores
    are bit-stable under repartitioning like every other float aggregate
    in this repo (functions/det.py discipline).
    """
    hint = F.broadcast if broadcast_model else (lambda df: df)
    base_denom = float(total_tokens + alpha * vocab_size)
    toks = docs.select(F.col("doc_id"), _toks().alias("t"))
    stream = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN"
                " CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)"
                " ELSE transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2)) END"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    joined = (
        stream.join(hint(bi), ["w1", "w2"], "left")
        .join(hint(c1), "w1", "left")
        .join(hint(c2), "w2", "left")
    )
    p_bi = F.when(
        F.col("c1").isNotNull() & F.col("c12").isNotNull(),
        F.col("c12").cast("double") / F.col("c1").cast("double"),
    ).otherwise(F.lit(0.0))
    p_uni = (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(float(alpha))) / F.lit(
        base_denom
    )
    logp = F.log(F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni)
    scored = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            -(F.sum(logp.cast("decimal(38,15)")).cast("double"))
            / F.count(F.lit(1))
        ).alias("cross_entropy"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "cross_entropy",
            F.exp("cross_entropy").alias("perplexity"),
        )
    )


# --- feature-hashing document vectors ---------------------------------------

#: Hash channels for the signed hashing trick (bucket, sign).
_FH_BUCKET_SEED = 0x9E3779B1
_FH_SIGN_SEED = 0x85EBCA77


def hash_embed(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Model-free document embeddings via the signed hashing trick
    (Weinberger et al. 2009): token counts folded into ``dim`` buckets
    by hash, each token contributing +-1 by an independent sign hash
    (the sign channel keeps collision noise zero-mean), L2-normalized.

    This bridges the text and similarity families: a corpus WITHOUT a
    neural embedding column can still run the ANN/near-dup operators --
    hashed vectors preserve enough lexical cosine structure for
    dedup-grade similarity (shared-token mass dominates the dot
    product), at exactly zero model cost.

    Plan shape: explode tokens map-side, ONE combinable groupBy
    (doc_id, bucket) sum of signs, then per-doc assembly through
    map_from_entries + a sequence transform -- the dense vector is
    built by ``dim`` map lookups in codegen, no second shuffle beyond
    the per-doc aggregation, and token strings never outlive the first
    aggregation. Empty docs embed as the zero vector (norm left 0,
    never divided).
    """
    toks = docs.select("doc_id", F.explode(_toks()).alias("token"))
    sign = F.when(
        F.pmod(F.xxhash64("token", F.lit(_FH_SIGN_SEED)), F.lit(2)) == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    bucket = F.pmod(
        F.xxhash64("token", F.lit(_FH_BUCKET_SEED)), F.lit(dim)
    ).cast("int")
    cells = (
        toks.select("doc_id", bucket.alias("bucket"), sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("v"))
    )
    assembled = cells.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "v"))
        ).alias("m")
    )
    dense = F.expr(
        f"transform(sequence(0, {dim - 1}), i -> coalesce(m[i], 0.0D))"
    )
    # The norm gets its OWN projection, referenced twice downstream
    # (guard + divisor): written inline it would be substituted into
    # the transform lambda and the O(dim) fold would re-run per
    # ELEMENT -- O(dim^2) per row, measured 10x on the embed pass. Two
    # references to a non-cheap producer also stop CollapseProject
    # from re-inlining it.
    nrm = F.sqrt(
        F.aggregate(
            F.col("raw"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    n = F.col("n")
    return (
        docs.select("doc_id")
        .join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                dense, F.expr(f"array_repeat(0.0D, {dim})")
            ).alias("raw"),
        )
        .select("doc_id", "raw", nrm.alias("n"))
        .select(
            "doc_id",
            F.when(
                n > 0,
                F.transform(F.col("raw"), lambda x: x / n),
            )
            .otherwise(F.col("raw"))
            .alias("embedding"),
        )
    )


def hash_embed_checkpointed(
    docs: DataFrame,
    dim: int = 64,
    id_out: str = "vec_id",
    drop_zero: bool = True,
) -> DataFrame:
    """(``id_out``, embedding) eagerly localCheckpointed, with the
    zero-vector filter applied AFTER materialization -- the only safe
    order, enforced here at the producer so no caller can reintroduce
    the trap: a filter placed on the DERIVED embedding projection gets
    the whole map-assembly expression inlined into its interpreted
    exists() predicate by pushdown and runs the assembly twice per row
    (the round-8 derived-expression failure mode; it bit a third time
    in round 10 -- measured 61.1s -> 10.2s at 1M docs for this exact
    frame). The checkpoint also truncates lineage, which iterative
    consumers (semdedup's Lloyd fit) need anyway; the rare zero
    vectors it stores before dropping cost dim floats per row."""
    emb = (
        hash_embed(docs, dim=dim)
        .select(F.col("doc_id").alias(id_out), "embedding")
        .localCheckpoint(eager=True)
    )
    if drop_zero:
        emb = emb.where(
            F.exists(F.col("embedding"), lambda x: x != 0)
        )
    return emb


#: Shared bigram-stream SQL (guarded against <2-token docs; see the
#: sequence(1,0)-counts-DOWN pitfall).
_BIGRAMS = (
    "CASE WHEN size(t) < 2 THEN"
    " CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)"
    " ELSE transform(sequence(1, size(t) - 1),"
    " i -> struct(t[i-1] AS w1, t[i] AS w2)) END"
)


def train_bigram_lm_grouped(
    docs: DataFrame, group_col: str = "lang"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Per-GROUP bigram statistics (one LM per language).

    A single LM over a multilingual corpus systematically over-scores
    every document outside the dominant language -- rare-language text
    looks 'garbled' to a model trained mostly on another language and
    gets unfairly filtered. Stratifying by ``group_col`` trains each
    language against itself: counts carry the group key (still one
    combinable shuffle each), totals become a groups-sized table
    instead of two scalars, and nothing touches the driver.

    Returns (unigram, bigram, totals) where totals = (group, n, v).
    Rows with a NULL group are excluded (they would join to nothing);
    callers decide their fate -- the pipeline's gate passes them.
    """
    g = F.col(group_col).alias("g")
    toks = docs.where(F.col(group_col).isNotNull()).select(
        g, _toks().alias("t")
    )
    uni = (
        toks.select("g", F.explode("t").alias("w"))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        toks.select("g", F.explode(F.expr(_BIGRAMS)).alias("b"))
        .select("g", "b.w1", "b.w2")
        .groupBy("g", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    totals = uni.groupBy("g").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    return uni, bi, totals


def _lm_stream_kernel(
    docs: DataFrame, pair_d: dict, w2_d: dict, oov_d: dict
) -> DataFrame:
    """(doc_id, lp) bigram log-prob rows via one ``mapInArrow`` pass.

    Input: (doc_id long, g string, text string) with g non-null.
    Tokenization is the profile kernel's Java-semantics ``\\S+`` class
    (``[^ \\t\\n\\x0b\\f\\r]+`` -- Java's \\s is ASCII-only, unlike
    Python's, so NBSP stays INSIDE tokens exactly as Catalyst's
    regexp_extract_all keeps it; no lower(), so no locale dependence).
    Each adjacent token pair looks up its tier log-prob in the
    per-group dicts -- the VALUES are the JVM-computed doubles from the
    model-side precompute, so the emitted stream is bit-identical to
    the expression rendering's coalesce(lp_pair, lp_w2, lp_oov); a key
    absent from every tier emits a NULL lp (the aggregate counts the
    bigram, sums nothing -- same as the expression path). Docs with
    NULL text or fewer than two tokens emit no rows, matching the
    guarded _BIGRAMS explode.

    Scale: zero-shuffle map pass; the dicts ship once per worker via a
    spark broadcast (model-sized -- gated by LM_KERNEL_MODEL_BOUND at
    the call site).
    """
    import pyarrow as pa

    bc = docs.sparkSession.sparkContext.broadcast((pair_d, w2_d, oov_d))

    def gen(batches):
        import re

        tok_re = re.compile(r"[^ \t\n\x0b\f\r]+")
        pair_b, w2_b, oov_b = bc.value
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            gs = batch.column("g").to_pylist()
            txts = batch.column("text").to_pylist()
            out_ids: list = []
            out_lps: list = []
            for i, txt in enumerate(txts):
                if txt is None:
                    continue
                toks = tok_re.findall(txt)
                n = len(toks)
                if n < 2:
                    continue
                grp = gs[i]
                pg = pair_b.get(grp)
                wg = w2_b.get(grp)
                og = oov_b.get(grp)
                did = ids[i]
                for j in range(n - 1):
                    w2 = toks[j + 1]
                    lp = pg.get((toks[j], w2)) if pg else None
                    if lp is None:
                        lp = wg.get(w2) if wg else None
                        if lp is None:
                            lp = og
                    out_ids.append(did)
                    out_lps.append(lp)
            if out_ids:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_ids, pa.int64()),
                        pa.array(out_lps, pa.float64()),
                    ],
                    ["doc_id", "lp"],
                )

    return docs.mapInArrow(gen, "doc_id long, lp double")


# The Arrow scoring kernel of lm_score_docs_grouped (r13, VERDICT r12
# task 4), engaged by the size gates below. Attribution at 1M
# (f47a063:tools/lm_attrib.py): the scoring half's dominant term is the
# THREE broadcast probes over the ~59M-row bigram stream (stream 3.4s ->
# +joins 12.6s -> +decimal agg 13.5s), and the composed stage pays ~3
# redundant corpus passes because each model-table broadcast re-runs
# the unigram lineage. The
# kernel replaces stream-explode + probes with one mapInArrow pass:
# Java-semantics \S+ tokenize (the profile kernel's proven regex), a
# per-group dict lookup of the SAME JVM-computed tier log-probs
# (collected once, model-sized), emitting (doc_id, lp) rows; the
# exact-decimal per-doc aggregation STAYS in Spark, so scores are
# bit-equal by construction (the differential test pins it).

#: Kernel engagement bound on collected model rows (pair + unigram
#: tiers COMBINED, ADVICE r13): above this the per-worker dict copies
#: outgrow the Python workers' memory budget and the JVM-broadcast
#: expression path is the right tool. Both collects are limit()-gated
#: so an oversized tier never reaches the driver; corpus-sublinear
#: models (Zipf vocabularies) sit far below the bound.
LM_KERNEL_MODEL_BOUND = 2_000_000

#: Kernel engagement floor on corpus size (when the caller knows it):
#: the kernel pays a model-sized FIXED cost per call (pair-tier
#: collect + dict pickle + broadcast ship + Python worker spin-up,
#: ~5-15s measured) that the per-bigram savings must amortize -- at
#: 50k docs the stage got SLOWER (4 -> 12s, tools/curation_stress.py),
#: at 1M it is 2.7x faster. 250k is the estimated break-even band
#: (same size class as the repo's other scale gates); callers that
#: cannot know the size (corpus_rows=None) default to the kernel, the
#: 100 TB-first choice.
LM_KERNEL_MIN_DOCS = 250_000


def lm_score_docs_grouped(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    totals: DataFrame,
    group_col: str = "lang",
    lam: float = LM_LAMBDA,
    alpha: float = LM_ALPHA,
    broadcast_model: bool = True,
    kernel: bool | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Per-document cross-entropy under the document's OWN group's LM.

    Same interpolated add-alpha formula as ``lm_score_docs``, with the
    group key riding every model join and the smoothing denominator
    coming from the group's totals row. Documents with a NULL group or
    fewer than two tokens score NULL.

    Plan shape (round 10): the log-prob is a pure function of the MODEL
    row, so it is precomputed once per distinct (g, w1, w2) / (g, w2) /
    group on the corpus-SUBLINEAR model tables, and the linear bigram
    stream does two broadcast lookups plus a groups-sized one and a
    three-way coalesce -- no per-row log(), no divisions, one fewer
    string-key probe than the join-counts-then-compute form (measured
    at 1M docs / ~59M bigrams: the scoring stage carried 60M log+div
    evaluations and a third 60M-row broadcast probe for arithmetic the
    model side runs ~200k times). BIT-EQUAL by construction: each tier
    evaluates the exact expression tree the per-row form evaluated for
    that tier's case (seen pair / unseen pair with seen w2 / unseen
    w2), over the same doubles -- pinned by the grouped-vs-ungrouped
    differential test, since ``lm_score_docs`` keeps the per-row form.

    r13: with the kernel engaged (``kernel=None`` lets the size gates
    decide; long doc_id, pair + unigram tiers together under
    LM_KERNEL_MODEL_BOUND rows -- BOTH tiers are bounded, ADVICE r13 --
    broadcast_model), the stream explode + three probes are replaced by
    :func:`_lm_stream_kernel` -- one mapInArrow pass doing dict lookups
    of the SAME JVM-computed tier values; the exact-decimal per-doc
    aggregate stays in Spark either way, so scores are bit-equal across
    paths (differential-tested). Both paths also pin the uni/totals
    frames once (the r13 checkpoint below) -- without it every
    broadcast tier re-ran their corpus-scan lineage (~3 redundant
    passes at 1M, f47a063:tools/lm_attrib.py). Measured composed at 1M:
    35.8s -> 13.3s.
    """
    g = F.col(group_col).alias("g")
    # r13 (f47a063:tools/lm_attrib.py): pin the two model frames every
    # tier derives from -- without this each broadcast exchange re-runs the
    # unigram/totals corpus-scan lineage independently (~3 redundant
    # corpus passes measured inside the composed stage at 1M). Both are
    # corpus-SUBLINEAR (distinct tokens / one row per group), so the
    # pin is model-sized; eager so the cost lands in this stage's wall.
    uni = uni.localCheckpoint(eager=True)
    totals = totals.localCheckpoint(eager=True)
    hint = F.broadcast if broadcast_model else (lambda df: df)
    lam_l = F.lit(float(lam))
    om_l = F.lit(1.0 - float(lam))
    denom = F.col("n").cast("double") + F.lit(float(alpha)) * F.col(
        "v"
    ).cast("double")
    p_uni = (
        F.coalesce(F.col("c2"), F.lit(0)).cast("double")
        + F.lit(float(alpha))
    ) / denom
    # tier 1: every (g, w1, w2) present in bi. c1/c2/totals join back
    # LEFT, and p_bi keeps the per-row form's c1-NULL guard, so a
    # caller-supplied INCONSISTENT model (e.g. uni vocabulary-pruned
    # while bi keeps the pair) scores exactly as the per-row form
    # scored it -- trained-together tables never hit those branches.
    # c1 = 0 (present but zero-count) additionally routes to the 0.0
    # branch: this tier is evaluated over EVERY bi row at precompute
    # time, so under ANSI an unguarded c12/c1 would raise
    # DIVIDE_BY_ZERO even for pairs no document contains (the per-row
    # form only raised on actual stream hits -- the one documented
    # divergence: a zero-count-c1 pair a document DOES hit scores
    # under the 0.0-smoothed tier here instead of raising).
    c1 = uni.select("g", F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uni.select("g", F.col("w").alias("w2"), F.col("c").alias("c2"))
    p_bi = F.when(
        F.col("c1").isNotNull() & (F.col("c1") != 0),
        F.col("c12").cast("double") / F.col("c1").cast("double"),
    ).otherwise(F.lit(0.0))
    pair_lp = (
        bi.join(c1, ["g", "w1"], "left")
        .join(c2, ["g", "w2"], "left")
        .join(totals, "g", "left")
        .select(
            "g", "w1", "w2",
            F.log(lam_l * p_bi + om_l * p_uni).alias("lp_pair"),
        )
    )
    # tier 2: unseen pair, seen w2 -- p_bi is literally 0.0, exactly as
    # the per-row otherwise() branch evaluated it
    w2_lp = c2.join(totals, "g", "left").select(
        "g", "w2",
        F.log(lam_l * F.lit(0.0) + om_l * p_uni).alias("lp_w2"),
    )
    # tier 3: unseen w2 -- c2 NULL -> coalesce 0, one constant per group
    oov_lp = totals.select(
        "g",
        F.log(
            lam_l * F.lit(0.0)
            + om_l
            * (
                (F.lit(0).cast("double") + F.lit(float(alpha)))
                / denom
            )
        ).alias("lp_oov"),
    )
    use_kernel = (
        (corpus_rows is None or corpus_rows >= LM_KERNEL_MIN_DOCS)
        if kernel is None
        else kernel
    )
    joined = None
    if use_kernel and broadcast_model:
        from pyspark.sql import types as T

        id_field = docs.schema["doc_id"].dataType
        model_tiers = None
        if isinstance(id_field, T.LongType):
            pair_rows = pair_lp.limit(LM_KERNEL_MODEL_BOUND + 1).collect()
            if len(pair_rows) <= LM_KERNEL_MODEL_BOUND:
                # ADVICE r13: the unigram tier shares the model bound.
                # A corpus of short/1-token docs has few bigram TYPES
                # but can carry a huge vocabulary, so an unbounded
                # w2_lp.collect() could blow the driver even when the
                # pair tier fits; the two tiers together must stay
                # under LM_KERNEL_MODEL_BOUND or the kernel yields to
                # the JVM-broadcast expression path.
                w2_budget = LM_KERNEL_MODEL_BOUND - len(pair_rows)
                w2_rows = w2_lp.limit(w2_budget + 1).collect()
                if len(w2_rows) <= w2_budget:
                    model_tiers = (pair_rows, w2_rows)
        if model_tiers is not None:
            pair_rows, w2_rows = model_tiers
            # per-group nested dicts of the SAME JVM-computed tier
            # log-probs (bit-equal by construction); None-valued tiers
            # stay absent so the lookup falls through exactly like the
            # three-way coalesce
            pair_d: dict = {}
            for r in pair_rows:
                if r["lp_pair"] is not None:
                    pair_d.setdefault(r["g"], {})[(r["w1"], r["w2"])] = r[
                        "lp_pair"
                    ]
            w2_d: dict = {}
            for r in w2_rows:
                if r["lp_w2"] is not None:
                    w2_d.setdefault(r["g"], {})[r["w2"]] = r["lp_w2"]
            oov_d = {
                r["g"]: r["lp_oov"]
                for r in oov_lp.collect()
                if r["lp_oov"] is not None
            }
            joined = _lm_stream_kernel(
                docs.where(F.col(group_col).isNotNull()).select(
                    "doc_id", g, "text"
                ),
                pair_d,
                w2_d,
                oov_d,
            )
    if joined is None:
        stream = (
            docs.where(F.col(group_col).isNotNull())
            .select(F.col("doc_id"), g, _toks().alias("t"))
            .select(
                "doc_id", "g", F.explode(F.expr(_BIGRAMS)).alias("b")
            )
            .select("doc_id", "g", "b.w1", "b.w2")
        )
        joined = (
            stream.join(hint(pair_lp), ["g", "w1", "w2"], "left")
            .join(hint(w2_lp), ["g", "w2"], "left")
            .join(hint(oov_lp), "g", "left")
            .select(
                "doc_id",
                F.coalesce("lp_pair", "lp_w2", "lp_oov").alias("lp"),
            )
        )
    scored = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            -(F.sum(F.col("lp").cast("decimal(38,15)")).cast("double"))
            / F.count(F.lit(1))
        ).alias("cross_entropy"),
    )
    return (
        docs.select("doc_id", F.col(group_col).alias("group"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "group",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "cross_entropy",
            F.exp("cross_entropy").alias("perplexity"),
        )
    )


def normalize_text(
    docs: DataFrame,
    *,
    form: str = "NFKC",
    strip_accents: bool = True,
    casefold: bool = False,
    text_col: str = "text",
) -> DataFrame:
    """Unicode text normalization -- the ingest-time cleaner every
    web-scale pipeline applies BEFORE any hashing channel (the
    ccnet / RefinedWeb preprocessing step): without it, "Ｈｅｌｌｏ"
    (full-width), "café" in NFC vs NFD, and NBSP-spaced copies of one
    sentence all hash as distinct content and silently defeat exact,
    line, span, and shingle dedup alike.

    Per document, in order: (1) ``unicodedata.normalize(form, s)``
    (NFKC folds compatibility forms -- full-width latin, ligatures,
    superscripts -- into their canonical text); (2) format/control
    characters (categories Cf/Cc: zero-width space and joiners, BOM,
    bidi marks) are removed, with every Unicode whitespace mapped to a
    plain space first; (3) optional accent strip = NFD, drop Mn
    combining marks WHOSE BASE CHARACTER IS LATIN, NFC (so e-acute ->
    e regardless of input form, while Thai/Devanagari/Arabic/Hebrew
    vowel marks -- also category Mn, but meaning-bearing -- survive
    untouched); (4) optional ``str.casefold()`` (stronger than
    lower(): folds ß -> ss and dotted-I correctly); (5) space runs
    collapse and trim.
    NULL stays NULL. The result is IDEMPOTENT (re-normalizing output
    is the identity -- pinned in tests), which is what makes it safe
    to run at every ingest boundary without coordination.

    This is genuinely Python-only territory -- Spark has no NFKC /
    category-table expression -- so it uses the fast Python tier: one
    Arrow-batched scalar ``pandas_udf`` (vectorized batch transfer,
    never row-at-a-time), applied map-side in the scan stage with zero
    shuffle. At 100 TB this runs once at ingest and materializes; every
    downstream channel (md5 digests, shingles, spans, lines) then
    operates on already-canonical bytes at full JVM speed.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    drop_cats = ("Cf", "Cc")

    def _norm_one(s):
        if s is None:
            return None
        s = unicodedata.normalize(form, s)
        out = []
        for ch in s:
            if ch.isspace():
                out.append(" ")
                continue
            if unicodedata.category(ch) in drop_cats:
                continue
            out.append(ch)
        s = "".join(out)
        if strip_accents:
            # drop combining marks ONLY after Latin base characters:
            # blanket Mn removal would destroy scripts where Mn marks
            # carry meaning, not decoration -- Thai/Lao vowels,
            # Devanagari matras, Arabic/Hebrew pointing ('kin' in Thai
            # would lose its vowel and become a different word)
            decomposed = unicodedata.normalize("NFD", s)
            kept, base_is_latin = [], False
            for ch in decomposed:
                if unicodedata.category(ch) == "Mn":
                    if not base_is_latin:
                        kept.append(ch)
                    continue
                base_is_latin = ord(ch) < 0x250  # Latin blocks
                kept.append(ch)
            s = unicodedata.normalize("NFC", "".join(kept))
        if casefold:
            s = s.casefold()
        return " ".join(s.split())

    # no type hints: the module-wide `from __future__ import annotations`
    # stringifies them, which pandas_udf cannot infer from -- the
    # unhinted form defaults to the scalar eval type (same pattern as
    # similarity's Arrow kernel)
    @pandas_udf("string")
    def _norm(batch):
        return batch.map(_norm_one)

    return docs.withColumn(text_col, _norm(F.col(text_col)))
