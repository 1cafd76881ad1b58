package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, IndexBuild, Embeddings}

/** E2: NL request → targeting conditions (`/root/reference/nl_targeting.py`).
  *
  * Pipeline: per extracted (attribute, polarity, value) triple, build the
  * query sentence (F7), embed it, similarity-search the condition index
  * keeping the hits above the floor (P6+A1), group the matched codes per
  * (attribute, polarity) (A10), then subtract negated codes from positive
  * ones (SET3,
  * `/root/reference/nl_targeting.py:112-123`).
  *
  * The LLM extraction/refinement steps (L1-L3) sit OUTSIDE this operator —
  * triples arrive as a DataFrame (in tests: literal rows; in production:
  * whatever NL layer feeds it). Everything here is relational.
  */
object NlTargeting {

  /** The L1 system prompt (stub-routed on its 키워드를 추출 marker), after
    * the reference's extraction prompt
    * (`/root/reference/nl_targeting.py:9-27`). */
  val L1Prompt: String =
    "아래 요청문장에서 타겟팅이 가능한 키워드를 추출하라. " +
      "출력형식: [{속성:키워드,논리:논리값,값:키워드값}] " +
      "논리값은 긍정/부정, 모든 띄어쓰기는 '_'로 변환하라."

  /** L1 clause grammar, shared verbatim by the codegen'd column extraction
    * ([[extractTriples]]), the chat-boundary twin
    * ([[graft.TripleExtract]]), and the DuckDB oracle (Java regex and RE2
    * both accept it). One match per `<attr>이/가 <value>` clause, with:
    * group 2 = the value token, group 3 = an optional comparison particle
    * (이상/이하/초과/미만/넘는/이후/이전 — kept, it feeds the L2 operator
    * normalization), group 4 = an optional range end (`~`/부터 … [까지]),
    * group 5 = the 아닌 negation marker (polarity 부정). */
  def triplePattern(attrs: Seq[String]): String =
    "(" + attrs.mkString("|") + ")[이가]\\s+(\\S+)" +
      "(?:\\s+(이상|이하|초과|미만|넘는|이후|이전)" +
      "|\\s*(?:~|부터)\\s+(\\S+)(?:\\s+까지)?)?" +
      "((?:\\s+이)?\\s+아닌)?"

  /** L1 as a relational operator: extract (attr, polarity, value) triples
    * from a free-text request COLUMN. Pure codegen'd regexp work — at scale
    * this runs over millions of requests with no LLM in the loop (the stub
    * grammar; a production deployment swaps [[graft.LlmClient]] in via
    * [[parseTriples]] over the LLM's bracket output instead). */
  def extractTriples(requests: DataFrame, reqCol: String,
      attrs: Seq[String] = graft.TripleExtract.DefaultAttrs): DataFrame = {
    val p = triplePattern(attrs)
    requests
      .select(explode(regexp_extract_all(col(reqCol), lit(p), lit(0))).as("m"))
      .select(
        regexp_extract(col("m"), p, 1).as("attr"),
        when(regexp_extract(col("m"), p, 5) =!= "", "부정")
          .otherwise("긍정").as("polarity"),
        concat(regexp_extract(col("m"), p, 2),
          when(regexp_extract(col("m"), p, 3) =!= "",
            concat(lit(" "), regexp_extract(col("m"), p, 3)))
            .when(regexp_extract(col("m"), p, 4) =!= "",
              concat(lit(" ~ "), regexp_extract(col("m"), p, 4)))
            .otherwise(lit(""))).as("value"))
  }

  /** Parse the L1 chat contract (`[{속성:a,논리:p,값:v},…]`, `_` for
    * spaces — `/root/reference/nl_targeting.py:24-27,46`) back into triple
    * rows. Column-expression regexp only, so the parse itself is
    * distributed and oracle-reproducible. */
  def parseTriples(bracketOutput: DataFrame, colName: String): DataFrame = {
    val bp = "\\{속성:([^,]+),논리:([^,]+),값:([^}]+)\\}"
    bracketOutput
      .select(explode(regexp_extract_all(col(colName), lit(bp), lit(0))).as("m"))
      .select(
        regexp_extract(col("m"), bp, 1).as("attr"),
        regexp_extract(col("m"), bp, 2).as("polarity"),
        translate(regexp_extract(col("m"), bp, 3), "_", " ").as("value"))
  }

  /** F7: query sentence per triple — positive/negative particle templating
    * (`/root/reference/nl_targeting.py:48-53`). */
  def querySentence(attr: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      polarity: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(polarity === "긍정",
      format_string("%s이(가) %s 인것 찾아줘", attr, value))
      .otherwise(format_string("%s이(가) %s 이(가) 아닌것 찾아줘", attr, value))

  /** L2: free-text value → operator normalization for code-less conditions
    * (`/root/reference/nl_targeting.py:62-80`). The reference asks an LLM
    * to rewrite the raw value as one of `>, >=, <, <=, =, BETWEEN` over an
    * integer or a `yyyyMMdd` date, emitting NOTHING when the value does
    * not fit the condition type; this is the deterministic stub grammar
    * ([[graft.StubLlm]] mirrors it at the chat boundary):
    *
    *  - integer: `N[만][원] (이상|이하|초과|미만|넘는)?` → `>=N` / `<=N` /
    *    `>N` / `<N` / `=N` (만 multiplies by 10 000, commas stripped);
    *    `A[만][원] (~|부터) B[만][원] [까지]` → `BETWEEN A AND B`;
    *    a bare `(19|20)yyMMdd` 8-digit value is treated as a date → `''`.
    *  - datePopup: `D8 (이후|이전)?` → `>=D8` / `<=D8` / `=D8`;
    *    `D8 (~|부터) D8 [까지]` → `BETWEEN A AND B`; non-dates → `''`.
    *
    * Pure codegen'd column expressions (regexp + arithmetic), fully
    * distributed, and reproducible in ANSI SQL for the DuckDB oracle. */
  def normalizeValue(value: org.apache.spark.sql.Column,
      condType: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val v = trim(regexp_replace(value, ",", ""))
    def amount(n: org.apache.spark.sql.Column, man: org.apache.spark.sql.Column) =
      (n.cast("long") * when(man === "만", 10000L).otherwise(1L)).cast("string")

    val intOne = "^([0-9]+)(만)?원?\\s*(이상|이하|초과|미만|넘는)?$"
    val intBtw = "^([0-9]+)(만)?원?\\s*(~|부터)\\s*([0-9]+)(만)?원?(\\s*까지)?$"
    val intOp = when(regexp_extract(v, intOne, 3) === "이상", ">=")
      .when(regexp_extract(v, intOne, 3) === "이하", "<=")
      .when(regexp_extract(v, intOne, 3).isin("초과", "넘는"), ">")
      .when(regexp_extract(v, intOne, 3) === "미만", "<")
      .otherwise("=")
    val intNorm =
      when(v.rlike("^(19|20)[0-9]{6}$"), "") // a date, not an amount
        .when(regexp_extract(v, intBtw, 1) =!= "",
          concat(lit("BETWEEN "),
            amount(regexp_extract(v, intBtw, 1), regexp_extract(v, intBtw, 2)),
            lit(" AND "),
            amount(regexp_extract(v, intBtw, 4), regexp_extract(v, intBtw, 5))))
        .when(regexp_extract(v, intOne, 1) =!= "",
          concat(intOp, amount(regexp_extract(v, intOne, 1),
            regexp_extract(v, intOne, 2))))
        .otherwise("")

    val dateOne = "^([0-9]{8})\\s*(이후|이전)?$"
    val dateBtw = "^([0-9]{8})\\s*(~|부터)\\s*([0-9]{8})(\\s*까지)?$"
    val dateOp = when(regexp_extract(v, dateOne, 2) === "이후", ">=")
      .when(regexp_extract(v, dateOne, 2) === "이전", "<=")
      .otherwise("=")
    val dateNorm =
      when(regexp_extract(v, dateBtw, 1) =!= "",
        concat(lit("BETWEEN "), regexp_extract(v, dateBtw, 1),
          lit(" AND "), regexp_extract(v, dateBtw, 3)))
        .when(regexp_extract(v, dateOne, 1) =!= "",
          concat(dateOp, regexp_extract(v, dateOne, 1)))
        .otherwise("")

    when(condType === "integer", intNorm)
      .when(condType === "datePopup", dateNorm)
      .otherwise("")
  }

  /** Per-triple condition search + code grouping + polarity subtraction,
    * in one pass: one broadcast cross join of the index with the triples;
    * one cosine floor (coded conditions against the `attr:value` vector,
    * code-less ones against `attr`, their code being the L2-normalized
    * value, dropped when empty (P8)); one aggregate per attribute that
    * collects the positive and negated code sets side by side, so SET3 is
    * an `array_except` on one row, not a self-join. `collect_set` dedups
    * codes across triples and routes and no score is returned, so there
    * is no per-code best score and no `distinct`.
    *
    * @param triples columns `attr: string, polarity: string (긍정|부정),
    *                value: string`
    * @param condIndex [[graft.IndexBuild.conditionIndex]] shape
    * @param floor the similarity floor (`standard_simil_score` = 0.5 in the
    *              reference, `/root/reference/nl_targeting.py:55`; the stub
    *              embedder's score distribution peaks lower, so callers
    *              pass a fixture-appropriate floor).
    * @return columns `attr, polarity, codes: array<string>` (sorted), with
    *         positive rows already minus their negated codes and empty
    *         groups dropped (P8).
    */
  def targetCodes(triples: DataFrame, condIndex: DataFrame,
      floor: Double, dim: Int = 64): DataFrame = {
    // Embed the canonical attr:value key (the stub-embedder convention of
    // IndexBuild.conditionIndex); production would embed querySentence().
    val qs = triples.select(col("attr"), col("polarity"), col("value"),
      Embeddings.embedCol(concat_ws(":", col("attr"), col("value")), dim).as("qvec"),
      Embeddings.embedCol(col("attr"), dim).as("avec"))
    val coded = col("code_nm") =!= ""
    val hits = condIndex.filter(col("code_nm").isNotNull).crossJoin(broadcast(qs))
      .filter(Graft.cosine(col("cond_vec"),
        when(coded, col("qvec")).otherwise(col("avec"))) >= floor)
      .select(col("attr"), col("polarity"),
        when(coded, col("code_nm"))
          .otherwise(normalizeValue(col("value"), col("cond_type"))).as("code"))
      .filter(col("code") =!= "")
    hits.groupBy(col("attr"))
      .agg(
        collect_set(when(col("polarity") === "긍정", col("code"))).as("pos"),
        collect_set(when(col("polarity") === "부정", col("code"))).as("neg"))
      .select(col("attr"), explode(array(
        struct(lit("긍정").as("polarity"),
          array_sort(array_except(col("pos"), col("neg"))).as("codes")),
        struct(lit("부정").as("polarity"), array_sort(col("neg")).as("codes"))))
        .as("t"))
      .select(col("attr"), col("t.polarity"), col("t.codes"))
      .filter(size(col("codes")) > 0)
  }
}
