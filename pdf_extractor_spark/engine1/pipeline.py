"""Engine-1 dataflow — fully Catalyst (no Python in the hot path).

pages table → posexplode pages (S3) → classify (F1) + reference date
(C3) → explode lines → broadcast-join the 13-rule dimension on
substring containment (F2/J8) → last-two-numbers parse (C1/C2) →
page-level rule aggregation (A2 índice/valor fallback, A3 sumable
pairs, A4 description duplicates, A5 13º-salário coalesce) →
last-page-wins per period (the reference's dict overwrite,
``pdf_processor_core.py:884-911``).

Scale shape: two explodes (pages, lines) multiply rows ~1000× before
the rules join — both stay in whole-stage codegen; the rules side is a
13-row broadcast so the join is a codegen'd nested-loop against a
local array, no shuffle. The only keyed shuffles are one (url, page)-
hash exchange of the slim tokenized table (which also clusters every
downstream pkey group, so the page-level aggregation adds NO exchange)
and the last-page-wins window. All per-page rule dicts reduce in a
single conditional-aggregate pass over the static 13-rule dimension;
nothing ever sorts or re-scans the full line table. Column pruning
pushes (url, text) reads down to the parquet scan.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.brnum import to_float_robust_struct
from ..functions.refdate import reference_date_cols
from .rules import E1_RULES, SUM4, SUMABLE, rules_df

# Static views of the 13-rule dimension (it is a compile-time constant,
# so the page-level "dict" aggregation can be expressed as one
# conditional-aggregate pass + static array reconstruction instead of
# four separate scans over a cached line table):
#   _FN_NORMAL   — FOLHA-NORMAL rules outside the sumable set
#                  (descriptions are pairwise distinct here, so the A4
#                  duplicate-description groups coincide with codes)
#   _SUM_GROUPS  — the A3 sum-when-together groups: (excel_col,
#                  description, [codes]) — codes already sorted
_FN_NORMAL = [(r[1], r[2], r[3]) for r in E1_RULES
              if r[6] == "FOLHA NORMAL" and r[1] not in SUM4]
_RULE_DESC = {r[1]: r[2] for r in E1_RULES}
_SUM_GROUPS = [(col, _RULE_DESC[codes[0]], sorted(codes))
               for col, codes in sorted(SUMABLE.items())]
_B13_CODES = ("09090301", "09090101")

TIPO_RE = r"(?iU)Tipo\s+da\s+folha\s*:"
FN_RE = r"(?iU)FOLHA\s+NORMAL"
SAL13_RE = r"(?iU)13\s*SAL[AÁ]RIO"
IGN_RE = r"(?iU)F[ÉE]RIAS|ADIANTAMENTO|RESCIS[ÃA]O"
IGN_HDR_RE = r"(?iU)F[ÉE]RIAS|ADIANTAMENTO\s*SALARIAL|RESCIS[ÃA]O"
NUM_TOKEN_RE = r"[\d]+(?:[.,:]\d+)*"


def explode_pages(pages_df: DataFrame) -> DataFrame:
    """S3: one row per page, preserving page order."""
    return (
        pages_df.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        .select("url", F.posexplode(F.split("text", "\f")).alias("page_idx", "page"))
    )


def classify_pages(page_rows: DataFrame) -> DataFrame:
    """F1 classifier + C3 reference date. Keeps ALL pages (metrics need
    the dropped ones); downstream filters on folha_type/date."""
    # First `Tipo da folha:` line via one multiline regexp (equivalent to
    # the reference's line scan for real documents, which carry at most
    # one tipo line per page; keeps the classifier small enough for
    # whole-stage codegen — the array/lambda form blew the JVM's 64KB
    # generated-method limit once duplicated into the explode stage).
    # (?m)^-anchored so the engine only attempts matches at line starts:
    # the unanchored form retries every character position, backtracking
    # through [^\n]* once per offset (quadratic per line). Same leftmost
    # match — the first line containing `Tipo da folha:`.
    tipo_line = F.regexp_extract(
        F.col("page"), r"(?iUm)^[^\n]*Tipo\s+da\s+folha\s*:[^\n]*", 0)
    # split limit 11: stop after the 10 header lines instead of
    # materializing the whole page's line array (element 11 = remainder,
    # never read; trailing-empty behavior of limited and unlimited
    # split agrees on the first 10 elements)
    header = F.array_join(
        F.slice(F.split(F.col("page"), "\n", 11), 1, 10), "\n")

    folha_type = (
        F.when(
            tipo_line != "",
            # reference order per line: FOLHA NORMAL → 13 SALARIO → IGNORAR;
            # unmatched tipo line → null → page dropped
            F.when(tipo_line.rlike(FN_RE), F.lit("FOLHA NORMAL"))
            .when(tipo_line.rlike(SAL13_RE), F.lit("13 SALARIO"))
            .when(tipo_line.rlike(IGN_RE), F.lit("IGNORAR")),
        )
        .when(header.rlike(SAL13_RE), F.lit("13 SALARIO"))
        .when(header.rlike(IGN_HDR_RE), F.lit("IGNORAR"))
        .otherwise(F.lit("FOLHA NORMAL"))
    )
    month, year = reference_date_cols(F.col("page"))
    return page_rows.withColumns(
        {"folha_type": folha_type, "month": month, "year": year}
    )


def page_metrics(classified: DataFrame) -> DataFrame:
    """K5/A9 per-document lineage counters (audit-table feed)."""
    valid = F.col("folha_type").isin("FOLHA NORMAL", "13 SALARIO")
    return classified.groupBy("url").agg(
        F.count("*").alias("total_pages"),
        F.sum((F.col("folha_type").isNull() | ~valid).cast("int")).alias("ignored"),
        F.sum((valid & F.col("year").isNull()).cast("int")).alias("no_date"),
        F.sum((F.col("folha_type") == "FOLHA NORMAL").cast("int")).alias("folha_normal_pages"),
        F.sum((F.col("folha_type") == "13 SALARIO").cast("int")).alias("salario13_pages"),
    )


def matched_lines(classified: DataFrame) -> DataFrame:
    """F2 + C1/C2: explode lines, broadcast-join rules on containment,
    parse the last two numeric tokens of each matched line."""
    rules = F.broadcast(rules_df(classified.sparkSession))
    pages = classified.filter(
        F.col("folha_type").isin("FOLHA NORMAL", "13 SALARIO")
        & F.col("year").isNotNull()
    )
    lines = pages.select(
        "url", "page_idx", "folha_type", "year", "month",
        F.posexplode(F.split("page", "\n")).alias("line_pos", "raw_line"),
    ).withColumn("line", F.trim("raw_line")).filter(F.col("line") != "")
    # cheap prune before the containment join: every rule code is 8
    # consecutive digits, so lines without one can never match
    # (measured ~25% off the join stage; row-identical)
    lines = lines.filter(F.col("line").rlike("[0-9]{8}"))

    joined = lines.join(
        rules,
        (lines["folha_type"] == rules["folha_type"])
        & lines["line"].contains(rules["code"]),
        "inner",
    ).drop(rules["folha_type"])
    # tokenize BEFORE the exchange and drop the line text: the shuffle
    # and the persisted table then carry a ≤2-token array instead of the
    # full line string (C1 only ever reads the last two numeric tokens)
    toks = F.regexp_extract_all("line", F.lit(NUM_TOKEN_RE), F.lit(0))
    last2 = F.slice(toks, F.greatest(F.size(toks) - 1, F.lit(1)), 2)
    return joined.withColumns(
        {"toks2": last2, "n_toks": F.size(toks)}
    ).drop("line", "raw_line")


def parse_line_numbers(ml: DataFrame) -> DataFrame:
    """C1/C2 on matched lines. The parse structs are large when-chains
    applied AFTER the (url, page) exchange: inlining them into the
    explode+join stage blows the JVM 64KB generated-method limit
    (interpreted fallback ~3× slower)."""
    # token_alphabet: toks2 comes from NUM_TOKEN_RE extraction, so the
    # chars are ⊆ [0-9.,:] — the translate-based parser fast path applies
    indice = F.when(F.col("n_toks") >= 2,
                    to_float_robust_struct(F.element_at("toks2", -2),
                                           token_alphabet=True))
    valor = F.when(F.col("n_toks") >= 1,
                   to_float_robust_struct(F.element_at("toks2", -1),
                                          token_alphabet=True))
    return ml.withColumns({"indice": indice, "valor": valor}) \
             .drop("toks2", "n_toks")


def _nonzero(v) -> F.Column:
    # reference `x is not None and x != 0`; 'HH,MM' strings never equal 0
    return v.isNotNull() & (v["is_time"] | (v["num"].isNotNull() & (v["num"] != 0)))


def _present(v) -> F.Column:
    # reference `x is not None` (float or 'HH,MM' string)
    return v.isNotNull() & (v["is_time"] | v["num"].isNotNull())


def _value_to_use() -> F.Column:
    """A2: índice when non-null/non-zero, else valor when fallback; valor
    rules read valor directly (pdf_processor_core.py:471-496)."""
    ind, val = F.col("indice"), F.col("valor")
    return (
        F.when(
            F.col("source") == "indice",
            F.when(_nonzero(ind), ind).when(
                F.col("fallback") & _present(val), val
            ),
        )
        .when((F.col("source") == "valor") & _present(val), val)
    )


@lru_cache(maxsize=1)
def _page_exprs():
    """The page-level conditional aggregates + the static value /
    attention reconstruction arrays.

    ONE page-level conditional-aggregation pass: the rule dimension is
    static, so every per-page "dict" the reference builds (A2 normal
    overwrite, A3 sumable pairs, A4 duplicate descriptions, A5 13º
    coalesce) is a fixed set of conditional aggregates over the matched
    lines: per rule, the last qualifying line (max over
    struct(line_pos, …) — line_pos is unique within a page, so
    lexicographic max ≡ max_by) plus a qualifying-line count. This
    replaces the previous four filter+aggregate branches over a
    persisted line table.

    Everything here depends only on compile-time rule tables, so the
    Column trees are built ONCE per process (lru_cache): re-deriving
    them cost a measured ~0.8 s of py4j round trips per extract_folha
    call — pure driver-side build time inside the benched region.
    Column objects are immutable expression trees, safe to reuse
    across DataFrames/queries."""
    is_fn = F.col("folha_type") == "FOLHA NORMAL"
    is13 = F.col("folha_type") == "13 SALARIO"
    usable = F.col("use").isNotNull()
    aggs = []
    for code, _desc, _excel in _FN_NORMAL:
        hit = is_fn & usable & (F.col("code") == code)
        aggs.append(F.max(F.when(hit, F.struct("line_pos", "use")))
                    .alias(f"qn_{code}"))
        aggs.append(F.count(F.when(hit, True)).alias(f"qn_n_{code}"))
    for _col, _desc, codes in _SUM_GROUPS:
        for code in codes:
            aggs.append(
                F.max(F.when(is_fn & usable & (F.col("code") == code),
                             F.struct("line_pos", "use")))
                .alias(f"qs_{code}"))
    for code in _B13_CODES:
        aggs.append(
            F.max(F.when(is13 & (F.col("code") == code),
                         F.struct("line_pos",
                                  F.col("valor13").alias("valor"))))
            .alias(f"b13_{code}"))
    # --- static reconstruction of the three value branches ---------------
    def _group_last(cols: list) -> F.Column:
        return cols[0] if len(cols) == 1 else F.greatest(*cols)

    excel_groups: dict[str, list] = {}
    for code, _desc, excel in _FN_NORMAL:
        excel_groups.setdefault(excel, []).append(code)

    val_structs = []
    # normal path (A2): last qualifying line per excel column
    for excel, codes in excel_groups.items():
        last = _group_last([F.col(f"qn_{c}") for c in codes])
        val_structs.append(F.struct(
            F.lit(excel).alias("excel_col"),
            last["use"].alias("value"),
            F.lit("normal").alias("__src")))
    # sumable pairs (A3): sum when >1 code present, else the single last
    sum_att_structs = []
    for excel, desc, codes in _SUM_GROUPS:
        arr = F.filter(
            F.array(*[F.struct(F.lit(c).alias("code"),
                               F.col(f"qs_{c}").alias("last"))
                      for c in codes]),
            lambda x: x["last"].isNotNull())
        n_codes = F.size(arr)
        nums = F.filter(F.transform(arr, lambda x: x["last"]["use"]["num"]),
                        lambda v: v.isNotNull())
        # null-seeded fold == F.sum semantics (all-null → null)
        sum_num = F.aggregate(
            nums, F.lit(None).cast("double"),
            lambda acc, v: F.when(acc.isNull(), v).otherwise(acc + v))
        one_use = F.array_max(F.transform(arr, lambda x: x["last"]))["use"]
        value = F.when(
            n_codes > 1,
            F.struct(sum_num.alias("num"),
                     F.lit(None).cast("string").alias("txt"),
                     F.lit(False).alias("is_time"))).otherwise(one_use)
        val_structs.append(F.when(n_codes > 0, F.struct(
            F.lit(excel).alias("excel_col"),
            value.alias("value"),
            F.lit("sum").alias("__src"))))
        sum_att_structs.append(F.when(n_codes > 1, F.struct(
            F.lit("soma_automatica").alias("kind"),
            F.lit(desc).alias("description"),
            F.transform(arr, lambda x: x["code"]).alias("codes"),
            F.lit(excel).alias("excel_col"))))
    # 13º coalesce (A5): 09090301 preferred, else 09090101
    v301 = F.col(f"b13_{_B13_CODES[0]}")["valor"]
    v101 = F.col(f"b13_{_B13_CODES[1]}")["valor"]
    val_structs.append(F.struct(
        F.lit("B").alias("excel_col"),
        F.when(_nonzero(v301), v301).when(_nonzero(v101), v101)
        .alias("value"),
        F.lit("b13").alias("__src")))

    # --- A4 description duplicates (attention only, no sum) --------------
    # _FN_NORMAL descriptions are pairwise distinct, so each duplicate-
    # description group is a single code repeated; such codes are never
    # subsets of a sumable set, so the reference's X/Y exclusion always
    # passes here.
    att_structs = [
        F.when(F.col(f"qn_n_{code}") > 1, F.struct(
            F.lit("duplicidade_descricao").alias("kind"),
            F.lit(desc).alias("description"),
            F.array_repeat(F.lit(code), F.col(f"qn_n_{code}").cast("int"))
            .alias("codes"),
            F.lit(excel).alias("excel_col")))
        for code, desc, excel in _FN_NORMAL
    ] + sum_att_structs

    vals_arr = F.filter(F.array(*val_structs),
                        lambda s: s["value"].isNotNull())
    att_arr = F.filter(F.array(*att_structs), lambda s: s.isNotNull())
    return aggs, vals_arr, att_arr


def extract_folha(pages_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full Engine-1 extraction.

    Returns (values, attention):
      values    = (url, folha_type, year, month, excel_col,
                   value struct<num double, txt string, is_time boolean>)
      attention = (url, folha_type, year, month, kind, description,
                   codes array<string>, excel_col)
    """
    # Early rebalance ONLY when the input is provably small (size-gated
    # — see ops.layout): the heavy explode+classify+join stage must run
    # at full parallelism even off a narrow scan. At production split
    # sizing the gate never fires and payloads never shuffle before the
    # line-level exchange below. (The previous guard compared the RDD
    # partition count to the core count, which costs ~1 s of
    # driver-side plan→RDD compilation per fresh call and is blind to
    # single-row-group files that plan many empty splits.)
    from ..ops.layout import rebalance_narrow

    pages_df = rebalance_narrow(pages_df.select("url", "text"))
    classified = classify_pages(explode_pages(pages_df))
    # Explicit (url, page)-hash repartition (north-rule partitioning):
    # one exchange that (a) materializes the parsed indice/valor structs
    # so `use` references columns instead of re-inlining the big parse
    # expressions (which blows the JVM 64KB codegen-method limit and
    # forces interpreted fallback), and (b) clusters rows for ALL the
    # downstream page-level windows — (url,page) distribution satisfies
    # every window's partitionBy, so no further shuffles are needed.
    n_part = pages_df.sparkSession.sparkContext.defaultParallelism
    ml = parse_line_numbers(
        matched_lines(classified).repartition(n_part, "url", "page_idx")
    ).withColumn("use", _value_to_use())

    aggs, vals_arr, att_arr = _page_exprs()
    # A5 reads `valor` (captured even when null — the reference
    # overwrites per matched line) but only on 13º-page 301/101 lines.
    ml = ml.withColumn(
        "valor13",
        F.when((F.col("folha_type") == "13 SALARIO")
               & F.col("code").isin(*_B13_CODES), F.col("valor")))

    pkey = ["url", "page_idx", "folha_type", "year", "month"]
    # Persist AFTER the reduction: the page table is one narrow row per
    # matched page (vs. the line table this replaces), and it feeds the
    # values explode, the win_pages distinct and the attention explode.
    from pyspark import StorageLevel

    page = ml.groupBy(*pkey).agg(*aggs).persist(StorageLevel.MEMORY_AND_DISK)

    # --- last-page-wins per (url, folha_type, period): the reference's
    #     full-dict replace (extracted_data[ft][period] = page_data) -----
    w_period = Window.partitionBy("url", "folha_type", "year", "month")
    union = (
        page.select(*pkey, F.explode(vals_arr).alias("s"))
        .select(*pkey, "s.excel_col", "s.value", "s.__src")
        .withColumn("max_page", F.max("page_idx").over(w_period))
        .filter(F.col("page_idx") == F.col("max_page"))
    )
    # a column may appear in the sumable AND normal path on the same page
    # (e.g. 01017101 → X then sum(01003601+02) → X): sumable overwrites
    # (it runs after the line loop in the reference :507-549)
    priority = F.when(F.col("__src") == "sum", 1).otherwise(0)
    values = (
        union.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(
                    "url", "folha_type", "year", "month", "excel_col"
                ).orderBy(priority.desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("url", "folha_type", "year", "month", "excel_col", "value")
    )

    win_pages = union.select(
        "url", "folha_type", "year", "month", "page_idx"
    ).distinct()
    attention = (
        page.select(*pkey, F.explode(att_arr).alias("s"))
        .select(*pkey, "s.kind", "s.description", "s.codes", "s.excel_col")
        .join(win_pages, ["url", "folha_type", "year", "month", "page_idx"],
              "left_semi")
        .select("url", "folha_type", "year", "month", "kind", "description",
                "codes", "excel_col")
    )
    return values, attention


def attention_table(pages_df: DataFrame) -> DataFrame:
    return extract_folha(pages_df)[1]
