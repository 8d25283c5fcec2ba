"""End-to-end registration pipeline query, hash-verified against a
DuckDB CTE oracle that re-expresses the whole dataflow — bronze
synthesis (sources/bronze.py), ETL1 clean/stage (operators/cleaning.py,
reference etl1_clean_and_stage.py:32-137), and ETL2 star assembly with
exact resolution (operators/star.py + operators/resolve.py, reference
etl2_advclean_and_dimcreatin.py:105-290).

Every stage of the oracle mirrors one Spark operator; the synthesized
bronze is deterministic modular arithmetic over orders x part, so both
engines see identical input. The %53==17 model typos (sources/bronze.py)
fall below the canonical-catalog support threshold, so their probes miss
the exact stage and take the blocked-Levenshtein path — IS_FUZZY_MATCH
is true for a known nonzero subset, hash-verified end-to-end (and the
fuzzy operator is additionally verified in isolation as
fuzzy_resolution_parts).

rta_pipeline_star's build runs no Spark action, so it is memoized as
an unexecuted plan (plans/planmemo.py); a memo hit re-arms the
persists run_pipeline makes (the pruned stage projection and the
deduplicated dim_vehicle, each read by several plan branches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rta_registrations_pyspark_glue_spark.plans.pipeline import run_pipeline
from rta_registrations_pyspark_glue_spark.plans.planmemo import plan_memo
from rta_registrations_pyspark_glue_spark.plans.registry import register
from rta_registrations_pyspark_glue_spark.sources.bronze import synthesize_bronze

# DuckDB oracle: the full bronze->stage->star chain as CTEs. Stage names
# mirror the Spark operators they reproduce.
_PIPELINE_CTES = r"""
WITH base AS (  -- sources/bronze.py: orders x part (p_partkey <= 200),
                -- with the %53==17 deterministic model typo (3rd char -> 'q')
    SELECT o.o_orderkey AS k, o.o_orderdate AS d,
           CASE WHEN o.o_orderkey % 53 = 17
                THEN substr(p.p_name, 1, 2) || 'q' || substr(p.p_name, 4)
                ELSE p.p_name END AS p_name,
           p.p_brand
    FROM orders o
    JOIN part p ON (o.o_orderkey % 200 + 1) = p.p_partkey
    WHERE p.p_partkey <= 200
), bronze0 AS (  -- dirty all-string registration rows, keyed dirt patterns
    SELECT
        CAST(k AS VARCHAR) AS slno,
        'TR' || lpad(CAST(k AS VARCHAR), 9, '0') AS trn,
        CASE WHEN k % 4 = 0 THEN strftime(d, '%d/%m/%Y')
             WHEN k % 4 = 1 THEN strftime(d, '%d.%m.%y')
             WHEN k % 4 = 2 THEN strftime(d, '%Y/%m/%d')
             ELSE 'RTA HYDERABAD' END AS fromdate,
        strftime(d + INTERVAL 365 DAY, '%d/%m/%Y') AS todate,
        CASE WHEN k % 4 = 3 THEN NULL
             ELSE 'RTA OFFICE ' || CAST(k % 11 AS VARCHAR) END AS OfficeCd,
        CASE WHEN k % 5 = 0 THEN upper(p_brand) || '.,'
             ELSE upper(p_brand) END AS makerName,
        CASE WHEN k % 8 = 0 THEN upper(p_name) || ' FLATBED TRAILER'
             WHEN k % 8 = 4 THEN upper(p_name) || ' EV 2021'
             WHEN k % 6 = 0 THEN upper(p_name) || '@#$ BS IV'
             ELSE upper(p_name) || ' ' || CAST(1990 + k % 30 AS VARCHAR)
             END AS modelDesc,
        CASE WHEN k % 7 = 0 THEN 'GASOLINE' WHEN k % 7 = 1 THEN 'BATTERY'
             WHEN k % 7 = 2 THEN 'DIESEL ' WHEN k % 7 = 3 THEN 'CNG ONLY'
             WHEN k % 7 = 4 THEN '' WHEN k % 7 = 5 THEN NULL
             ELSE 'PETROL' END AS fuel,
        CASE WHEN k % 9 = 0 THEN '19' WHEN k % 9 = 1 THEN ''
             WHEN k % 9 = 2 THEN 'UNKNOWN' WHEN k % 9 = 3 THEN NULL
             ELSE CAST(1995 + k % 25 AS VARCHAR) END AS makeYear,
        CASE WHEN k % 3 = 0 THEN NULL ELSE 'WHITE' END AS colour,
        CASE WHEN k % 3 = 1 THEN NULL ELSE 'MOTOR CAR' END AS vehicleClass,
        CASE WHEN k % 3 = 2 THEN NULL
             ELSE CAST(2 + k % 5 AS VARCHAR) END AS seatCapacity
    FROM base
), bronze AS (  -- older duplicate for every 10th registration
    SELECT * FROM bronze0
    UNION ALL
    SELECT slno || '_dup', trn, '01/01/1990', todate, OfficeCd, makerName,
           modelDesc, fuel, makeYear, colour, vehicleClass, seatCapacity
    FROM bronze0 WHERE CAST(slno AS BIGINT) % 10 = 0
), rep0 AS (  -- cleaning.clean_maker_name + office-misalignment flags
    SELECT *,
           regexp_matches(fromdate,
               '(?i)^(RTA|UNIT OFFICE|MVI|DTO|ZONAL|TRANSPORT).*') AS dio,
           regexp_replace(makerName, '[\.,]+$', '') AS makerName_c
    FROM bronze
), rep1 AS (  -- cleaning.repair_office_code_misalignment steps 1-2
    SELECT *,
           CASE WHEN dio THEN NULL ELSE fromdate END AS d1,
           CASE WHEN regexp_matches(o1, '(?i)^(TS|TG)$') THEN NULL
                ELSE o1 END AS o2
    FROM (SELECT *, CASE WHEN dio AND OfficeCd IS NULL THEN fromdate
                         ELSE OfficeCd END AS o1 FROM rep0)
), rep AS (  -- step 3: backfill office from a non-office-shaped date value
    SELECT slno, trn, d1 AS fromdate, todate,
           CASE WHEN o2 IS NULL AND d1 IS NOT NULL THEN d1 ELSE o2 END AS OfficeCd,
           makerName_c AS makerName, modelDesc, fuel, makeYear, colour,
           vehicleClass, seatCapacity
    FROM rep1
), mv0 AS (  -- cleaning.derive_model_variant: symbol clean + flags + tokens
    SELECT *,
           regexp_matches(lower(mdc), 'trailer|trailor|tipper|tractor|tanker')
               AS isTrailer,
           regexp_matches(lower(mdc), '\b(ev|bov|electric|hybrid)\b')
               AS isElectric,
           string_split_regex(mdc, '\s+') AS words
    FROM (SELECT *, trim(regexp_replace(modelDesc,
                        '[^A-Za-z0-9\s\+\-\(\)\./]', ' ', 'g')) AS mdc
          FROM rep)
), mv AS (  -- first token = model, rest = variant (fixed class for trailers)
    SELECT *,
           upper(CASE WHEN isTrailer THEN mdc ELSE words[1] END) AS modelName,
           CASE WHEN vr IS NULL OR vr = '' THEN 'UNKNOWN' ELSE vr END AS variant
    FROM (SELECT *,
              upper(CASE WHEN isTrailer THEN 'TRAILER/TIPPER/TRACTOR/TANKER'
                    ELSE trim(array_to_string(words[2:], ' ')) END) AS vr
          FROM mv0)
), parsed AS (  -- functions.dates.parse_multiformat_date on both date cols
    SELECT *,
        CASE WHEN fc ~ '^\d{2}/\d{2}/\d{4}$' THEN CAST(strptime(fc, '%d/%m/%Y') AS DATE)
             WHEN fc ~ '^\d{2}/\d{2}/\d{2}$' THEN CAST(strptime(fc, '%d/%m/%y') AS DATE)
             WHEN fc ~ '^\d{4}/\d{2}/\d{2}$' THEN CAST(strptime(fc, '%Y/%m/%d') AS DATE)
             ELSE NULL END AS fromdate_parsed,
        CASE WHEN tc ~ '^\d{2}/\d{2}/\d{4}$' THEN CAST(strptime(tc, '%d/%m/%Y') AS DATE)
             WHEN tc ~ '^\d{2}/\d{2}/\d{2}$' THEN CAST(strptime(tc, '%d/%m/%y') AS DATE)
             WHEN tc ~ '^\d{4}/\d{2}/\d{2}$' THEN CAST(strptime(tc, '%Y/%m/%d') AS DATE)
             ELSE NULL END AS todate_parsed
    FROM (SELECT *,
              regexp_replace(trim(regexp_replace(fromdate, '[^0-9/.\-]', '', 'g')),
                             '[.\-]', '/', 'g') AS fc,
              regexp_replace(trim(regexp_replace(todate, '[^0-9/.\-]', '', 'g')),
                             '[.\-]', '/', 'g') AS tc
          FROM mv)
), latest AS (  -- dedup.keep_latest_agg on (fromdate_parsed, slno)
    SELECT * FROM parsed
    QUALIFY row_number() OVER (PARTITION BY trn
                               ORDER BY fromdate_parsed DESC, slno DESC) = 1
), staged AS (  -- normalize_fuel + backfill_make_year + stage filter
    SELECT *,
        CASE WHEN regexp_matches(fuel, 'BATTERY|ELECTRIC') THEN 'ELECTRIC'
             WHEN regexp_matches(fuel, 'PETROL|GASOLINE') THEN 'PETROL'
             WHEN regexp_matches(fuel, 'DIESEL') THEN 'DIESEL'
             WHEN regexp_matches(fuel, 'CNG') THEN 'CNG'
             WHEN regexp_matches(fuel, 'LPG') THEN 'LPG'
             ELSE 'UNKNOWN' END AS fuel_clean,
        CASE WHEN makeYear IS NULL OR makeYear = '' OR makeYear = 'UNKNOWN'
             THEN CASE WHEN yx IS NOT NULL AND yx <> '' THEN yx
                       ELSE 'UNKNOWN' END
             ELSE makeYear END AS makeYear2
    FROM (SELECT *, regexp_extract(mdc, '(19\d{2}|20[0-2]\d)', 0) AS yx
          FROM latest)
    WHERE fromdate_parsed IS NOT NULL
), keyed AS (  -- ETL2: trim, 2-digit year fix, emission, surrogate keys
    SELECT *,
        CASE WHEN isElectric THEN 'ELECTRIC'
             WHEN em IS NULL OR em = '' THEN 'UNKNOWN'
             ELSE upper(regexp_replace(em, '\s', '', 'g')) END AS emissionStandard,
        CASE WHEN makeYear_clean IS NULL THEN 'UNKNOWN'
             ELSE makeYear_clean END AS MAKE_YEAR_KEY,
        -- coalesce to '' mirrors Spark's concat_ws NULL-skipping: a NULL
        -- key part must hash like the empty string, not poison the hash
        -- (functions/hashing.py surrogate_key).
        sha256(concat_ws('|', coalesce(lower(trim(modelName)), ''),
                         coalesce(lower(trim(variant)), ''),
                         lower(trim(CASE WHEN makeYear_clean IS NULL THEN 'UNKNOWN'
                                         ELSE makeYear_clean END)))) AS VEHICLE_ID,
        sha256(coalesce(lower(trim(makerName)), '')) AS MANUFACTURER_ID,
        sha256(coalesce(lower(trim(OfficeCd)), '')) AS RTA_ID
    FROM (SELECT slno, trn, fromdate_parsed, todate_parsed, colour,
                 vehicleClass, seatCapacity, fuel_clean, isTrailer, isElectric,
                 mdc,
                 trim(makerName) AS makerName, trim(modelName) AS modelName,
                 trim(variant) AS variant, trim(OfficeCd) AS OfficeCd,
                 CASE WHEN length(makeYear2) = 2
                           AND regexp_matches(makeYear2, '^[0-9]{2}$')
                      THEN '20' || makeYear2 ELSE makeYear2 END AS makeYear_clean,
                 CASE WHEN mdc IS NOT NULL
                      THEN regexp_extract(mdc,
                          '(BS\s?III[AB]?|BS\s?IV|BS\s?V|BS\s?VI)', 1)
                      ELSE NULL END AS em
          FROM staged)
), dimv AS (  -- star.build_dim_vehicle: deterministic min-struct dedup
    SELECT VEHICLE_ID, MODEL_NAME, VARIANT, EMISSION_STANDARD, FUEL, COLOUR,
           VEHICLE_CLASS, MAKE_YEAR, SEAT_CAPACITY, IS_ELECTRIC
    FROM (SELECT VEHICLE_ID,
                 modelName AS MODEL_NAME,
                 variant AS VARIANT,
                 emissionStandard AS EMISSION_STANDARD,
                 fuel_clean AS FUEL,
                 coalesce(colour, 'UNKNOWN') AS COLOUR,
                 coalesce(vehicleClass, 'UNKNOWN') AS VEHICLE_CLASS,
                 makeYear_clean AS MAKE_YEAR,
                 coalesce(CAST(seatCapacity AS INT), 0) AS SEAT_CAPACITY,
                 isElectric AS IS_ELECTRIC
          FROM keyed)
    QUALIFY row_number() OVER (PARTITION BY VEHICLE_ID
        ORDER BY MODEL_NAME, VARIANT, EMISSION_STANDARD, FUEL, COLOUR,
                 VEHICLE_CLASS, MAKE_YEAR, SEAT_CAPACITY, IS_ELECTRIC) = 1
), support AS (  -- plans/pipeline.py MIN_CATALOG_SUPPORT: canonical =
                 -- spelling carried by >= 3 registrations
    SELECT VEHICLE_ID, COUNT(*) AS cnt FROM keyed GROUP BY VEHICLE_ID
), cat AS (
    SELECT d.VEHICLE_ID,
           lower(trim(d.MODEL_NAME || ' ' || d.VARIANT)) AS ctext,
           lower(trim(d.MAKE_YEAR)) AS cyear
    FROM dimv d JOIN support s ON s.VEHICLE_ID = d.VEHICLE_ID AND s.cnt >= 3
), probes AS (
    SELECT trn, lower(trim(modelName || ' ' || variant)) AS ptext,
           lower(trim(MAKE_YEAR_KEY)) AS pyear
    FROM keyed
), exact AS (  -- resolve.resolve_exact_fuzzy stage 1: ties -> min id
    SELECT p.trn, min(c.VEHICLE_ID) AS RESOLVED_ID
    FROM probes p
    JOIN cat c ON p.ptext = c.ctext AND p.pyear = c.cyear
    GROUP BY p.trn
), fuzzy AS (  -- stages 2-4: anti-staged, 2-char-blocked Levenshtein,
               -- deterministic (distance, id) best match
    SELECT trn, RESOLVED_ID, LEV_DIST FROM (
        SELECT p.trn, c.VEHICLE_ID AS RESOLVED_ID,
               levenshtein(p.ptext, c.ctext) AS LEV_DIST,
               ROW_NUMBER() OVER (PARTITION BY p.trn
                   ORDER BY levenshtein(p.ptext, c.ctext), c.VEHICLE_ID) AS rn
        FROM probes p
        JOIN cat c ON substr(p.ptext, 1, 2) = substr(c.ctext, 1, 2)
                  AND p.pyear = c.cyear
        WHERE p.trn NOT IN (SELECT trn FROM exact)
          AND length(p.ptext) >= 2 AND length(c.ctext) >= 2
          AND levenshtein(p.ptext, c.ctext) <= 3
    ) WHERE rn = 1
), resolution AS (  -- stage 5: union; LEV_DIST NULL marks exact
    SELECT trn, RESOLVED_ID, NULL AS LEV_DIST FROM exact
    UNION ALL
    SELECT trn, RESOLVED_ID, LEV_DIST FROM fuzzy
)
"""

_STAR_ORACLE = _PIPELINE_CTES + r"""
SELECT
    'fact' AS row_kind,
    coalesce(r.RESOLVED_ID, s.VEHICLE_ID) AS VEHICLE_ID,
    s.MANUFACTURER_ID AS MANUFACTURER_ID,
    s.RTA_ID AS RTA_ID,
    CAST(strftime(s.fromdate_parsed, '%Y%m%d') AS INT) AS REGISTRATION_ISSUE_DATE_ID,
    CAST(strftime(s.todate_parsed, '%Y%m%d') AS INT) AS REGISTRATION_EXPIRY_DATE_ID,
    CAST(year(s.fromdate_parsed) AS INT) AS REGISTRATION_YEAR,
    CASE WHEN regexp_matches(s.makeYear_clean, '^[0-9]{4}$')
         THEN CAST(s.makeYear_clean || '0101' AS INT) ELSE NULL
         END AS MANUFACTURER_DATE_ID,
    s.vehicleClass AS TRANSPORT_TYPE,
    s.trn AS TEMP_REGISTRATION_NUMBER,
    s.slno AS SLNO,
    (r.RESOLVED_ID IS NOT NULL AND r.LEV_DIST IS NOT NULL) AS IS_FUZZY_MATCH,
    s.colour AS COLOUR,
    s.fuel_clean AS FUEL_TYPE,
    s.modelName AS MODEL_NAME
FROM keyed s LEFT JOIN resolution r ON s.trn = r.trn
UNION ALL BY NAME
SELECT 'dim_vehicle' AS row_kind, * FROM dimv
"""


@register("rta_pipeline_star", oracle=_STAR_ORACLE, expensive=True)
@plan_memo
def rta_pipeline_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference pipeline (ETL1+ETL2, SURVEY.md §3.1-3.2): dirty
    bronze → clean/stage → dims + resolution → star. One union-tagged
    result pins BOTH fact_registrations ('fact' rows) and dim_vehicle
    ('dim_vehicle' rows, schema per starschema_dw.txt:9-21) under a
    single gate slot — columns absent from a row kind are NULL, exactly
    as in the oracle's UNION ALL BY NAME."""
    out = run_pipeline(synthesize_bronze(spark, sf_dir))
    fact = out.fact.withColumn("row_kind", F.lit("fact"))
    dim = out.dim_vehicle.withColumn("row_kind", F.lit("dim_vehicle"))
    return fact.unionByName(dim, allowMissingColumns=True)
