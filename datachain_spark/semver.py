"""Semver helpers (reference src/datachain/semver.py:1-68): the public
parse/validate/create/value/compare surface used around dataset versions,
plus version tags (`parse_tag`) and specifiers like ">=1.0,<2" (`matches`).
The 999999 per-part cap keeps value() inside a signed 64-bit int, so a
version can be compared as one BIGINT column in Spark too.
"""

from __future__ import annotations

import operator

MAX_VERSION_NUMBER = 999_999

_ERROR = (
    "Invalid version. It should be in format: <major>.<minor>.<patch> where"
    " each version part is positive integer"
)


def validate(version: str) -> None:
    """Raise ValueError unless `version` is <major>.<minor>.<patch> with
    each part an integer in [0, MAX_VERSION_NUMBER]."""
    parts = version.split(".")
    if len(parts) != 3:
        raise ValueError(_ERROR)
    for part in parts:
        try:
            val = int(part)
        except ValueError:
            raise ValueError(_ERROR) from None
        if not 0 <= val <= MAX_VERSION_NUMBER:
            raise ValueError(_ERROR)


def parse(version: str) -> tuple[int, int, int]:
    """Split a semver string into (major, minor, patch)."""
    validate(version)
    major, minor, patch = version.split(".")
    return int(major), int(minor), int(patch)


def create(major: int = 0, minor: int = 0, patch: int = 0) -> str:
    """Build a semver string from parts."""
    if not all(0 <= p <= MAX_VERSION_NUMBER for p in (major, minor, patch)):
        raise ValueError("Major, minor and patch must be greater or equal to zero")
    return f"{major}.{minor}.{patch}"


def value(version: str) -> int:
    """Total-order integer for a version (fits in int64)."""
    major, minor, patch = parse(version)
    limit = MAX_VERSION_NUMBER + 1
    return major * limit**2 + minor * limit + patch


def compare(v1: str, v2: str) -> int:
    """-1 / 0 / 1 ordering of two versions."""
    a, b = value(v1), value(v2)
    return (a > b) - (a < b)


def parse_tag(tag: str) -> tuple[int, int, int] | None:
    """(major, minor, patch) of a version tag, "1.2.3" or "v1.2.3" alike;
    None for a free-form tag such as "tag3"."""
    try:
        return parse(tag.removeprefix("v"))
    except ValueError:
        return None


_COMPARE = {
    ">=": operator.ge, "<=": operator.le, "==": operator.eq, "!=": operator.ne,
    ">": operator.gt, "<": operator.lt, "=": operator.eq,
}
# two-character operators first: a clause takes the longest that prefixes it
_OPS = ("~=", *_COMPARE)


def is_specifier(version: str) -> bool:
    """Whether a version argument is a specifier (">=1.0,<2", "~=1.2")
    rather than a tag."""
    return version.startswith(_OPS)


def matches(version: str, spec: str) -> bool:
    """Whether `version` ("1.2.3" or "v1.2.3") meets every comma-ANDed
    clause of `spec`. A clause's version may omit trailing parts (">=1"
    is ">=1.0.0"); a clause without an operator means "==". `~=` is the
    PEP 440 compatible release: all but the LAST given part are pinned,
    so ~=1.2.3 is >=1.2.3,<1.3.0 and ~=1.2 is >=1.2,<2."""
    ver = parse(version.removeprefix("v"))
    for clause in spec.split(","):
        clause = clause.strip()
        op = next((o for o in _OPS if clause.startswith(o)), "==")
        rhs_raw = clause.removeprefix(op).strip().removeprefix("v")
        given = [int(x) for x in rhs_raw.split(".") if x != ""]
        rhs = tuple(given + [0] * (3 - len(given)))
        if op == "~=":
            pin = max(len(given) - 1, 1)
            if not (ver >= rhs and ver[:pin] == rhs[:pin]):
                return False
        elif not _COMPARE[op](ver, rhs):
            return False
    return True


__all__ = ["MAX_VERSION_NUMBER", "compare", "create", "is_specifier", "matches", "parse",
           "parse_tag", "validate", "value"]
