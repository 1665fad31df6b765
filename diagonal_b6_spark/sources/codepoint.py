"""GB Code-Point Open ingest: the reference's b6-ingest-gb-codepoint.

Reference behavior reproduced (cmd/b6-ingest-gb-codepoint/
b6-ingest-gb-codepoint.go):
  * readColumnHeaders (:32-51): a side CSV of header-name rows maps
    column name -> index; every row assigns, so a name appearing in
    several rows keeps its LAST row's index (the real product ships a
    short-name row and a long-name row; "Postcode"/"Eastings"/
    "Northings" come from the long row).
  * readPostcodeCoordinates (:81-118): headerless data CSVs, comment
    lines start with '#', rows with non-integer Eastings/Northings are
    skipped (logged).
  * Postcodes.Read (:58-79): each row becomes a point feature tagged
    #place=postal_code whose id is PointIDFromGBPostcode (b6/ids.go:
    16-40 -- uppercase, spaces stripped, length 5..7, each char [0-9]
    -> 0..9 / [A-Z] -> 10..35 packed 6 bits per char, then
    id = packed * 4 + (len - 5)); an invalid postcode ABORTS the
    ingest with an error.
  * Eastings/Northings are EPSG:27700 (British National Grid) and the
    tool projects to WGS84 via gdal.CreateCoordinateTransform; we
    apply the published OS Transverse-Mercator-inverse + Helmert chain
    from kernels/bng.py (what proj does without an OSTN15 grid file).

Spark-first shape: the id packing, normalization, and validity test
are pure whole-stage-codegen column expressions (a 7-char fold is 44
bits, well inside BIGINT); only the BNG->WGS84 projection runs in an
Arrow-batched pandas UDF over the vectorized numpy kernel.  Invalid
postcodes raise AT EXECUTION inside the codegen pipeline
(raise_error), mirroring the reference's abort without any driver-side
materialization; pass on_invalid="skip" to drop them instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

POSTCODE_MIN_LEN = 5  # b6/ids.go:11
POSTCODE_MAX_LEN = 7


def postcode_norm_col(pc) -> "F.Column":
    """ids.go:17: uppercase, spaces removed."""
    return F.upper(F.regexp_replace(pc, " ", ""))


def postcode_valid_col(norm) -> "F.Column":
    """ids.go:18-34: length 5..7, chars in [0-9A-Z]."""
    return F.length(norm).between(POSTCODE_MIN_LEN, POSTCODE_MAX_LEN) & norm.rlike(
        "^[0-9A-Z]+$"
    )


UK_ONS_NAMESPACE = "statistics.gov.uk/datasets/regions"  # b6/world.go:357


def uk_ons_id_col(code, year: int = 2011) -> "F.Column":
    """FeatureIDFromUKONSCode (ids.go:71-83): an ONS code is a letter
    followed by 8 digits; the id packs ascii(letter)<<40 |
    uint8(year-1900)<<32 | int(digits).  Invalid codes -> NULL (the
    reference's FeatureIDInvalid)."""
    c = F.col(code) if isinstance(code, str) else code
    valid = c.rlike("^[A-Za-z][0-9]{8}$")
    v = (
        F.ascii(F.substring(c, 1, 1)).cast("long") * F.lit(1 << 40)
        + F.lit((int(year) - 1900) & 0xFF).cast("long") * F.lit(1 << 32)
        + F.substring(c, 2, 8).cast("long")
    )
    return F.when(valid, v)


def postcode_id_col(norm) -> "F.Column":
    """PointIDFromGBPostcode's packed id (ids.go:21-39): 6 bits per
    char (0-9 -> 0..9, A-Z -> 10..35), then two length bits."""
    vals = F.transform(
        F.split(norm, ""),
        lambda c: F.when((c >= F.lit("0")) & (c <= F.lit("9")), F.ascii(c) - 48)
        .otherwise(F.ascii(c) - 55)
        .cast("long"),
    )
    folded = F.aggregate(vals, F.lit(0).cast("long"), lambda acc, v: acc * 64 + v)
    return folded * 4 + (F.length(norm) - POSTCODE_MIN_LEN).cast("long")


def _bng_udf():
    @pandas_udf("lat double, lng double")
    def to_wgs84(e: pd.Series, n: pd.Series) -> pd.DataFrame:
        import numpy as np

        from ..kernels import bng

        lat, lng = bng.bng_to_wgs84(
            e.to_numpy(dtype=np.float64), n.to_numpy(dtype=np.float64)
        )
        return pd.DataFrame({"lat": lat, "lng": lng})

    return to_wgs84


def codepoint_features(
    rows: DataFrame, on_invalid: str = "error"
) -> DataFrame:
    """(postcode string, easting double, northing double) rows ->
    point features in the gb/codepoint namespace (Postcodes.Read)."""
    if on_invalid not in ("error", "skip"):
        raise ValueError(f"on_invalid must be 'error' or 'skip', got {on_invalid!r}")
    norm = postcode_norm_col(F.col("postcode"))
    valid = postcode_valid_col(norm)
    pid = postcode_id_col(norm)
    if on_invalid == "error":
        # the reference aborts the whole ingest on the first invalid
        # postcode (b6-ingest-gb-codepoint.go:67-68); raise executor-side
        pid = F.when(
            valid, pid
        ).otherwise(
            F.raise_error(F.concat(F.lit("invalid postcode: "), F.col("postcode")))
        )
        staged = rows
    else:
        staged = rows.filter(valid)
    ll = _bng_udf()(F.col("easting"), F.col("northing"))
    return staged.select(
        pid.alias("_pid"), ll.alias("_ll")
    ).select(
        F.concat(F.lit("point/gb/codepoint/"), F.col("_pid").cast("string")).alias(
            "feature_id"
        ),
        F.lit("point").alias("feature_type"),
        F.lit("gb/codepoint").alias("ns"),
        F.create_map(F.lit("#place"), F.lit("postal_code")).alias("tags"),
        F.array(F.col("_ll.lng")).alias("xs"),
        F.array(F.col("_ll.lat")).alias("ys"),
        F.array(F.lit(0)).alias("ring_offsets"),
    )


def read_codepoint(
    spark: SparkSession,
    data_path: str,
    headers_path: str,
    on_invalid: str = "error",
) -> DataFrame:
    """Code-Point Open directory layout -> point features.

    data_path: glob of headerless data CSVs (Data/CSV/*.csv in the
    product zip); headers_path: the column-headers CSV
    (Doc/Code-Point_Open_Column_Headers.csv).  The headers file is a
    couple of rows of names -- driver-side and bounded by design, like
    the reference's readColumnHeaders."""
    columns: dict[str, int] = {}
    for row in spark.read.csv(headers_path, header=False).collect():
        for i, name in enumerate(row):
            if name is not None:
                columns[name] = i
    for need in ("Postcode", "Eastings", "Northings"):
        if need not in columns:
            raise ValueError(f"codepoint: missing column {need!r} in {headers_path}")
    raw = spark.read.csv(data_path, header=False, comment="#")
    # readPostcodeCoordinates skips rows whose coordinates don't parse
    # as INTEGERS -- strconv.Atoi, so "183977.0" is a skip too
    # (b6-ingest-gb-codepoint.go:101-111)
    is_int = "^-?[0-9]+$"
    sel = raw.filter(
        F.col(f"_c{columns['Eastings']}").rlike(is_int)
        & F.col(f"_c{columns['Northings']}").rlike(is_int)
    ).select(
        F.col(f"_c{columns['Postcode']}").alias("postcode"),
        F.col(f"_c{columns['Eastings']}").cast("double").alias("easting"),
        F.col(f"_c{columns['Northings']}").cast("double").alias("northing"),
    )
    return codepoint_features(sel, on_invalid=on_invalid)
