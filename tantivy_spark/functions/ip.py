"""IpAddr field type: IPv4/IPv6 values as order-preserving sort keys.

Reference semantics (src/schema/field_type.rs:455 + the columnar IpAddr
type): every IP is normalized to its IPv6 form (IPv4 becomes the
::ffff:a.b.c.d mapped address) and compared as a u128.  The Spark-native
encoding is the 32-digit zero-padded hex string of that u128 —
lexicographic order over the key EQUALS numeric order over the address,
so range queries are plain string comparisons that push down to parquet
scans, and the key is computable in plain SQL for oracles (IPv4 case).

Fast path: a pure-JVM (codegen'd) expression handles dotted-quad IPv4 —
the overwhelmingly common case in web logs; anything else (IPv6, odd
forms) goes through an Arrow-batched pandas UDF using the stdlib
``ipaddress`` module.
"""

from __future__ import annotations

import ipaddress

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# octets constrained to 0-255: a sloppy \d{1,3} would let '300.1.2.3'
# overflow the u32, whose hex lpad then TRUNCATES into a corrupted key
# colliding with valid address ranges
_OCT = r"(25[0-5]|2[0-4]\d|1?\d?\d)"
_V4_RE = rf"^{_OCT}\.{_OCT}\.{_OCT}\.{_OCT}$"


def ip_key(ip: str) -> str:
    """Python-side key: 32-hex-digit u128 of the IPv6(-mapped) address."""
    addr = ipaddress.ip_address(ip)
    if isinstance(addr, ipaddress.IPv4Address):
        v6 = int(ipaddress.IPv6Address(f"::ffff:{addr}"))
    else:
        v6 = int(addr)
    return f"{v6:032x}"


def _ipv4_key_col(ip: Column) -> Column:
    """Codegen'd IPv4 -> key: hex('00000000000000000000ffff' + u32)."""
    parts = F.split(ip, r"\.")
    u32 = (parts[0].cast("long") * 16777216 + parts[1].cast("long") * 65536
           + parts[2].cast("long") * 256 + parts[3].cast("long"))
    return F.concat(F.lit("00000000000000000000ffff"),
                    F.lpad(F.lower(F.hex(u32)), 8, "0"))


def ip_key_col(ip: Column) -> Column:
    """Order-preserving sort key for an ip-string column.

    IPv4 strings take the whole-stage-codegen JVM path; everything else
    falls back to the Arrow-batched ``ipaddress`` UDF.  Unparseable
    strings key to NULL (dropped by any range filter) instead of failing
    the whole query on one dirty log row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _key(ips: pd.Series) -> pd.Series:
        from tantivy_spark.functions.ip import ip_key

        def safe(s):
            if s is None:
                return None
            try:
                return ip_key(s)
            except ValueError:
                return None

        return ips.map(safe)

    return F.when(ip.rlike(_V4_RE), _ipv4_key_col(ip)) \
        .when(ip.isNotNull(), _key(ip)) \
        .otherwise(F.lit(None))


def ip_range_filter(df: DataFrame, ip_col: str, lower: str | None,
                    upper: str | None, lower_inclusive: bool = True,
                    upper_inclusive: bool = True) -> DataFrame:
    """Docs whose ip column falls in [lower, upper] — the IpAddr range
    query (ref: range_query over the IpAddr fast field).  Bounds are ip
    strings; comparison happens in key space."""
    k = ip_key_col(F.col(ip_col))
    cond = F.lit(True)
    if lower is not None:
        lk = F.lit(ip_key(lower))
        cond = cond & (k >= lk if lower_inclusive else k > lk)
    if upper is not None:
        uk = F.lit(ip_key(upper))
        cond = cond & (k <= uk if upper_inclusive else k < uk)
    return df.filter(cond)
