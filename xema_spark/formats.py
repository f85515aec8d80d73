"""`format` keyword predicates (all 17 of /root/reference/lib/xema/format.ex:6-24).

The reference's format regexes use PCRE (?(DEFINE)...) macro groups, which are
pure textual macros (no recursion), so every regex-expressible format expands
to a flat Java regex and stays a JVM-side Column `rlike` — including ipv6
(format.ex:248-268), whose alternation is explicit. Only formats that need a
URI component parser (uri / uri-reference / uri-template, format.ex:349-391)
or a regex compiler (regex, format.ex:311-317) drop to an Arrow-vectorized
pandas UDF.

Unknown formats pass (validator.ex:1017), as do the reference's explicitly
unsupported ones (idn-email, idn-hostname, iri, iri-reference —
docs/unsupported.md:8-12).
"""

from __future__ import annotations

import re as _re
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

# --- macro fragments (expanded from format.ex DEFINE groups) ---------------
_DEC_OCTET = r"(?:25[0-5]|2[0-4]\d|[0-1]?\d{1,2})"
_IPV4 = rf"(?:{_DEC_OCTET}(?:\.{_DEC_OCTET}){{3}})"
_H16 = r"(?:[0-9A-Fa-f]{1,4})"
_LS32 = rf"(?:(?:{_H16}:{_H16})|{_IPV4})"
# ipv6 alternation exactly as format.ex:248-268
_IPV6 = (
    r"(?:"
    rf"(?:(?:{_H16}:){{6}}{_LS32})"
    rf"|(?:::(?:{_H16}:){{5}}{_LS32})"
    rf"|(?:(?:{_H16})?::(?:{_H16}:){{4}}{_LS32})"
    rf"|(?:(?:(?:{_H16}:){{0,1}}{_H16})?::(?:{_H16}:){{3}}{_LS32})"
    rf"|(?:(?:(?:{_H16}:){{0,2}}{_H16})?::(?:{_H16}:){{2}}{_LS32})"
    rf"|(?:(?:(?:{_H16}:){{0,3}}{_H16})?::{_H16}:{_LS32})"
    rf"|(?:(?:(?:{_H16}:){{0,4}}{_H16})?::{_LS32})"
    rf"|(?:(?:(?:{_H16}:){{0,5}}{_H16})?::{_H16})"
    rf"|(?:(?:(?:{_H16}:){{0,6}}{_H16})?::)"
    r")"
)
_SUB_DOMAIN = r"(?:[a-z\d][-a-z\d]{0,62})"          # format.ex:216-224
_URI_SUB_DOMAIN = r"(?:[a-z\d][-a-z\d]*)"            # format.ex:486-494
_JSON_POINTER = r"(?:/(?:[^~/]|~[01])*)*"            # format.ex:273-284

# emailregex.com regex as used at format.ex:170-185 (unanchored search there)
_EMAIL = (
    r"(?:[a-z0-9!#$%&'*+/=?^_`{|}~-]+(?:\.[a-z0-9!#$%&'*+/=?^_`{|}~-]+)*"
    r"|\"(?:[\x01-\x08\x0b\x0c\x0e-\x1f\x21\x23-\x5b\x5d-\x7f]"
    r"|\\[\x01-\x09\x0b\x0c\x0e-\x7f])*\")"
    r"@(?:(?:[a-z0-9](?:[a-z0-9-]*[a-z0-9])?\.)+[a-z0-9](?:[a-z0-9-]*[a-z0-9])?"
    rf"|\[(?:{_DEC_OCTET}\.){{3}}"
    rf"(?:{_DEC_OCTET}|[a-z0-9-]*[a-z0-9]:"
    r"(?:[\x01-\x08\x0b\x0c\x0e-\x1f\x21-\x5a\x53-\x7f]"
    r"|\\[\x01-\x09\x0b\x0c\x0e-\x7f])+)\])"
)

# URI component charsets (format.ex:398-484; POSIX classes expanded)
_PCT = r"%[0-9A-Fa-f][0-9A-Fa-f]"
_URI_USERINFO = rf"^(?:[-._~a-zA-Z0-9!$&'()*+,;=:]|{_PCT})*$"
_PCHAR = rf"(?:@|[-._~a-zA-Z0-9]|{_PCT}|[!$&'()*+,;=])"
_SEG = rf"(?::|{_PCHAR})*"
_SEG_NZ = rf"(?::|{_PCHAR})+"
_SEG_NZ_NC = rf"{_PCHAR}+"
_URI_PATH = (
    rf"^(?:(?:{_SEG_NZ}(?:/{_SEG})*)"        # rootless
    rf"|(?:{_SEG_NZ_NC}(?:/{_SEG}))"         # noscheme ((?&seg)* ≡ (?&seg) by language)
    rf"|(?:/(?:{_SEG_NZ}(?:/{_SEG})*)?)"     # absolute
    rf"|(?:(?:/{_SEG})*)"                    # abempty
    r")$"
)
_TMPL_CHAR = rf"(?:[_a-zA-Z0-9]|{_PCT})"
_TEMPLATE = rf"(?:\{{[+#.,;?&=@!|/]?{_TMPL_CHAR}+(?::\d+|\*)?(?:,{_TMPL_CHAR}+(?::\d+|\*)?)*\}})"
_T_PCHAR = rf"(?:@|[-._~a-zA-Z0-9]|{_PCT}|[!$&'()*+,;=]|{_TEMPLATE})"
_T_SEG = rf"(?::|{_T_PCHAR})*"
_T_SEG_NZ = rf"(?::|{_T_PCHAR})+"
_T_SEG_NZ_NC = rf"{_T_PCHAR}+"
_URI_TEMPLATE_PATH = (
    rf"^(?:(?:{_T_SEG_NZ}(?:/{_T_SEG})*)"
    rf"|(?:{_T_SEG_NZ_NC}(?:/{_T_SEG}))"
    rf"|(?:/(?:{_T_SEG_NZ}(?:/{_T_SEG})*)?)"
    rf"|(?:(?:/{_T_SEG})*)"
    r")$"
)
_URI_QUERY = rf"^(?:[-._~a-zA-Z0-9!$&'()*+,;=:@]|{_PCT}|[/?])*$"


# --- Column predicates ------------------------------------------------------

def _ipv4(col: Column) -> Column:
    return col.rlike(rf"^{_IPV4}$")


def _ipv6(col: Column) -> Column:
    return col.rlike(rf"^{_IPV6}$")


def _hostname(col: Column) -> Column:
    # guard: no trailing '-' (format.ex:225-226)
    return (~col.rlike(r"-$")) & col.rlike(rf"(?i)^{_SUB_DOMAIN}(?:\.{_SUB_DOMAIN})*$")


def _email(col: Column) -> Column:
    # leading-dot / double-dot guards + unanchored search (format.ex:181-185)
    return (~col.rlike(r"^\.")) & (~col.rlike(r"\.\.")) & col.rlike(f"(?i){_EMAIL}")


def _date_time(col: Column) -> Column:
    """RFC 3339 with calendar validity (format.ex:88-115). The reference's
    regex is loose on ranges and then calendar-checks via NaiveDateTime.new;
    we tighten h/m/s in the regex (equivalent accept set) and calendar-check
    the date part with try_to_date. Fractional seconds must fit in
    microseconds as an integer (NaiveDateTime.new usec <= 999_999)."""
    gate = col.rlike(
        r"(?i)^\d{4}-[01]\d-[0-3]\dT(?:[01]\d|2[0-3]):[0-5]\d:[0-5]\d"
        r"(?:\.\d+)?(?:Z|[-+](?:[01]\d|2[0-3]):(?:[0-5]\d|60))$"
    )
    cal = F.try_to_date(F.substring(col, 1, 10), "yyyy-MM-dd").isNotNull()
    frac = F.regexp_extract(col, r"\.(\d+)", 1)
    frac_ok = (frac == "") | (frac.try_cast("bigint") <= F.lit(999999))
    return gate & cal & frac_ok


def _time(col: Column) -> Column:
    # time? == date_time?("2000-01-01T" <> s) (format.ex:127-129)
    return _date_time(F.concat(F.lit("2000-01-01T"), col))


def _date(col: Column) -> Column:
    # date? == date_time?(s <> "T00:00:00.0Z") (format.ex:141-143)
    return (col.rlike(r"^\d{4}-[01]\d-[0-3]\d$")
            & F.try_to_date(col, "yyyy-MM-dd").isNotNull())


def _json_pointer(col: Column) -> Column:
    return col.rlike(rf"^{_JSON_POINTER}$")


def _relative_json_pointer(col: Column) -> Column:
    # quirky reference semantics preserved (format.ex:289-306): single digit,
    # single digit + '#', or digits '/' json-pointer.
    return col.rlike(rf"^(?:\d#|\d|\d+/(?:[^~/]|~[01])*(?:/(?:[^~/]|~[01])*)*)$")


# --- pandas-UDF formats (Arrow-vectorized; the only Python-side formats) ----

_EMAIL_RE = _re.compile(f"(?i){_EMAIL}")
_IPV4_RE = _re.compile(rf"^{_IPV4}$")
_IPV6_RE = _re.compile(rf"^{_IPV6}$")
_URI_HOSTNAME_RE = _re.compile(rf"(?i)^{_URI_SUB_DOMAIN}(?:\.{_URI_SUB_DOMAIN})*$")
_URI_USERINFO_RE = _re.compile(_URI_USERINFO)
_URI_PATH_RE = _re.compile(_URI_PATH)
_URI_TEMPLATE_PATH_RE = _re.compile(_URI_TEMPLATE_PATH)
_URI_QUERY_RE = _re.compile(_URI_QUERY)


def _py_email(s: str) -> bool:
    return (not s.startswith(".")) and (".." not in s) and bool(_EMAIL_RE.search(s))


def _py_uri_host(host: str) -> bool:
    return bool(_IPV4_RE.match(host)) or bool(_IPV6_RE.match(host)) or (
        not host.endswith("-") and bool(_URI_HOSTNAME_RE.match(host))
    )


def _py_uri(s: str, kind: str) -> bool:
    """Mirror of do_uri?/2 (format.ex:368-391) on urllib components."""
    try:
        u = urlsplit(s)
    except ValueError:
        return False
    scheme = u.scheme or None
    if kind == "uri" and scheme is None:
        return False
    if scheme == "mailto":
        return _py_email(u.path or "")
    netloc = u.netloc
    userinfo = netloc.rpartition("@")[0] if "@" in netloc else None
    hostport = netloc.rpartition("@")[2]
    host: str | None
    if hostport.startswith("["):
        host = hostport[1:].split("]")[0]
    elif hostport:
        host = hostport.rsplit(":", 1)[0] if _re.search(r":\d*$", hostport) else hostport
    else:
        host = None
    path = u.path or None
    if host is not None and not _py_uri_host(host):
        return False
    if userinfo is not None and not _URI_USERINFO_RE.match(userinfo):
        return False
    if kind == "uri_template":
        return path is None or bool(_URI_TEMPLATE_PATH_RE.match(path))
    if path is not None and not _URI_PATH_RE.match(path):
        return False
    if u.query and not _URI_QUERY_RE.match(u.query):
        return False
    if u.fragment and not _URI_QUERY_RE.match(u.fragment):
        return False
    return True


def _vec(fn):
    """Wrap a str->bool check as an Arrow-vectorized pandas UDF (null passes,
    matching the engine's null-is-absent convention)."""
    def batch(s: pd.Series) -> pd.Series:
        return s.map(lambda x: True if x is None else fn(x)).astype("boolean")
    return F.pandas_udf(batch, BooleanType())


_uri_udf = _vec(lambda s: _py_uri(s, "uri"))
_uri_reference_udf = _vec(lambda s: _py_uri(s, "uri_reference"))
_uri_template_udf = _vec(lambda s: _py_uri(s, "uri_template"))


def _py_regex(s: str) -> bool:
    # reference compiles with PCRE (format.ex:311-317); Python `re` is the
    # closest vectorizable analogue — documented divergence on exotic PCRE.
    try:
        _re.compile(s)
        return True
    except _re.error:
        return False


_regex_udf = _vec(_py_regex)


# --- dispatch ---------------------------------------------------------------

_COLUMN_FORMATS = {
    "date-time": _date_time,
    "date_time": _date_time,
    "datetime": _date_time,
    "time": _time,
    "date": _date,
    "email": _email,
    "hostname": _hostname,
    "host": lambda c: _ipv4(c) | _ipv6(c) | _hostname(c),  # format.ex:206-208
    "ipv4": _ipv4,
    "ipv6": _ipv6,
    "json-pointer": _json_pointer,
    "json_pointer": _json_pointer,
    "relative-json-pointer": _relative_json_pointer,
    "relative_json_pointer": _relative_json_pointer,
    "uri-userinfo": lambda c: c.rlike(_URI_USERINFO),
    "uri_userinfo": lambda c: c.rlike(_URI_USERINFO),
    "uri-path": lambda c: c.rlike(_URI_PATH),
    "uri_path": lambda c: c.rlike(_URI_PATH),
    "uri-query": lambda c: c.rlike(_URI_QUERY),
    "uri_query": lambda c: c.rlike(_URI_QUERY),
    "uri-fragment": lambda c: c.rlike(_URI_QUERY),
    "uri_fragment": lambda c: c.rlike(_URI_QUERY),
}

_UDF_FORMATS = {
    "uri": _uri_udf,
    "uri-reference": _uri_reference_udf,
    "uri_reference": _uri_reference_udf,
    "uri-template": _uri_template_udf,
    "uri_template": _uri_template_udf,
    "regex": _regex_udf,
}


def predicate(fmt: str, col: Column) -> Column | None:
    """Boolean Column for `format: fmt`, or None when the format is unknown /
    unsupported (those pass, validator.ex:1017)."""
    if fmt in _COLUMN_FORMATS:
        return _COLUMN_FORMATS[fmt](col)
    if fmt in _UDF_FORMATS:
        return _UDF_FORMATS[fmt](col)
    return None


def python_check(fmt: str, value: str) -> bool:
    """Driver-side/pure-Python format check used by the interpreter oracle."""
    if fmt in ("date-time", "date_time", "datetime", "time", "date"):
        s = value
        if fmt == "time":
            s = f"2000-01-01T{s}"
        elif fmt == "date":
            s = f"{s}T00:00:00.0Z"
        m = _re.match(
            r"(?i)^(\d{4})-([01]\d)-([0-3]\d)T((?:[01]\d|2[0-3])):([0-5]\d):([0-5]\d)"
            r"(?:\.(\d+))?(?:Z|[-+](?:[01]\d|2[0-3]):(?:[0-5]\d|60))$",
            s,
        )
        if not m:
            return False
        import datetime as _dt
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        frac = m.group(7)
        if frac is not None and int(frac) > 999999:
            return False
        try:
            _dt.date(y, mo, d)
            return True
        except ValueError:
            return False
    if fmt == "email":
        return _py_email(value)
    if fmt == "hostname":
        return not value.endswith("-") and bool(
            _re.match(rf"(?i)^{_SUB_DOMAIN}(?:\.{_SUB_DOMAIN})*$", value))
    if fmt == "host":
        return (bool(_IPV4_RE.match(value)) or bool(_IPV6_RE.match(value))
                or python_check("hostname", value))
    if fmt == "ipv4":
        return bool(_IPV4_RE.match(value))
    if fmt == "ipv6":
        return bool(_IPV6_RE.match(value))
    if fmt in ("json-pointer", "json_pointer"):
        return bool(_re.match(rf"^{_JSON_POINTER}$", value))
    if fmt in ("relative-json-pointer", "relative_json_pointer"):
        return bool(_re.match(
            r"^(?:\d#|\d|\d+/(?:[^~/]|~[01])*(?:/(?:[^~/]|~[01])*)*)$", value))
    if fmt in ("uri", "uri-reference", "uri_reference", "uri-template", "uri_template"):
        kind = {"uri": "uri", "uri-reference": "uri_reference",
                "uri_reference": "uri_reference", "uri-template": "uri_template",
                "uri_template": "uri_template"}[fmt]
        return _py_uri(value, kind)
    if fmt == "regex":
        return _py_regex(value)
    if fmt in ("uri-userinfo", "uri_userinfo"):
        return bool(_URI_USERINFO_RE.match(value))
    if fmt in ("uri-path", "uri_path"):
        return bool(_URI_PATH_RE.match(value))
    if fmt in ("uri-query", "uri_query", "uri-fragment", "uri_fragment"):
        return bool(_URI_QUERY_RE.match(value))
    return True  # unknown formats pass
