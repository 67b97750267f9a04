"""Correctness checkers. Each takes plain Python values (collected outside
every timed region) and returns a list of error strings; an empty list
means the output is correct."""

from __future__ import annotations

import datetime as dt
import re
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from arc_maskdata_pipeline_plugin_spark.functions.masking import (
    DEFAULT_ALPHABET,
    mask_date_value,
    mask_decimal_value,
    mask_string_value,
    mask_timestamp_value,
)

DIGITS = "0123456789"
EMAIL_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
PHONE_FORMAT = "xxx-xxxx-xxxx"
_PHONE_RE = re.compile(r"^[0-9]{3}-[0-9]{4}-[0-9]{4}$")
DATE_RANGE = 365
TS_RANGE = 30
DECIMAL_RANGE = Decimal("100.0")
STREAM_PSEUDONYM_LENGTH = 8


def check_count(what: str, expected: int, got: int) -> list[str]:
    return [] if expected == got else [f"{what}: expected {expected} rows, got {got}"]


def _hour(ts: dt.datetime) -> dt.datetime:
    return ts.replace(minute=0, second=0, microsecond=0)


def expected_etl_row(
    codec, passphrase: bytes, key_codec, key_passphrase: bytes, raw: tuple[str, ...]
) -> dict:
    """The masked output for one raw CSV row, recomputed in-process through
    the public ``mask_*_value`` functions (``key_codec`` masks
    ``account_ref``, ``codec`` every other column)."""
    cid, ref, name, email, phone, bdate, sts, bal, seg = raw
    ts = _hour(dt.datetime.strptime(sts, "%Y-%m-%d %H:%M:%S"))
    masked_ts = mask_timestamp_value(codec, passphrase, TS_RANGE, True, pd.Timestamp(ts))
    dec = None
    if bal != "NULL":
        dec = mask_decimal_value(codec, passphrase, DECIMAL_RANGE, True, Decimal(bal))
        dec = dec.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    return {
        "customer_id": int(cid),
        "account_ref": mask_string_value(
            key_codec, key_passphrase, 16, DEFAULT_ALPHABET, None, True, ref
        ),
        "full_name": mask_string_value(
            codec, passphrase, 16, DEFAULT_ALPHABET, None, True, name.strip()
        ),
        "email": mask_string_value(codec, passphrase, 12, EMAIL_ALPHABET, None, True, email),
        "phone": mask_string_value(codec, passphrase, 16, DIGITS, PHONE_FORMAT, True, phone),
        "birth_date": mask_date_value(
            codec, passphrase, DATE_RANGE, True, dt.date.fromisoformat(bdate)
        )
        if bdate
        else None,
        "signup_ts": masked_ts.to_pydatetime(),
        "balance": dec,
        "segment": seg,
    }


def etl_format_errors(raw: tuple[str, ...], out: dict) -> list[str]:
    """Invariants every masked row satisfies, whatever the codec."""
    errs = []
    cid = raw[0]
    ref, name, email, phone = out["account_ref"], out["full_name"], out["email"], out["phone"]
    if ref is None or len(ref) != 16 or set(ref) - set(DEFAULT_ALPHABET):
        errs.append(f"row {cid}: account_ref {ref!r} is not 16 letters")
    if name is None or len(name) != 16 or set(name) - set(DEFAULT_ALPHABET):
        errs.append(f"row {cid}: full_name {name!r} is not 16 letters")
    if email is None or len(email) != 12 or set(email) - set(EMAIL_ALPHABET):
        errs.append(f"row {cid}: email {email!r} is not 12 chars of [a-z0-9]")
    if phone is None or not _PHONE_RE.match(phone):
        errs.append(f"row {cid}: phone {phone!r} does not match {PHONE_FORMAT}")
    if raw[5]:
        shift = (out["birth_date"] - dt.date.fromisoformat(raw[5])).days
        if abs(shift) >= DATE_RANGE:
            errs.append(f"row {cid}: birth_date shifted {shift} days")
    elif out["birth_date"] is not None:
        errs.append(f"row {cid}: empty birth_date was not typed to NULL")
    delta = out["signup_ts"] - _hour(dt.datetime.strptime(raw[6], "%Y-%m-%d %H:%M:%S"))
    if delta.seconds or delta.microseconds or abs(delta.days) >= TS_RANGE:
        errs.append(f"row {cid}: signup_ts shift {delta} is not whole days in range")
    if raw[7] != "NULL":
        if out["balance"] is None or abs(out["balance"] - Decimal(raw[7])) >= DECIMAL_RANGE:
            errs.append(f"row {cid}: balance {out['balance']} shifted out of range")
    elif out["balance"] is not None:
        errs.append(f"row {cid}: NULL balance was not typed to NULL")
    return errs


def check_etl_sample(
    codec,
    passphrase: bytes,
    key_codec,
    key_passphrase: bytes,
    raw_rows: list[tuple[str, ...]],
    out_rows: dict[int, dict],
) -> list[str]:
    """``out_rows`` maps customer_id to the masked output row."""
    errs = []
    for raw in raw_rows:
        got = out_rows.get(int(raw[0]))
        if got is None:
            errs.append(f"row {raw[0]}: missing from the output")
            continue
        errs += etl_format_errors(raw, got)
        want = expected_etl_row(codec, passphrase, key_codec, key_passphrase, raw)
        for col, v in want.items():
            if got[col] != v:
                errs.append(f"row {raw[0]}: {col} = {got[col]!r}, expected {v!r}")
    return errs


def check_vectors(got: list[tuple], vectors: list[tuple]) -> list[str]:
    """Exact equality with the JVM-generated PBKDF2 vectors."""
    got_by_key = {row[0]: tuple(row) for row in got}
    errs = [] if len(got) == len(vectors) else [f"{len(got)} vector rows, expected {len(vectors)}"]
    for v in vectors:
        g = got_by_key.get(v[0])
        if g != tuple(v):
            errs.append(f"vector {v[0]}: got {g}, expected {tuple(v)}")
    return errs


def check_skewed_keys(masked: dict[str, set[str]], vectors: list[tuple]) -> list[str]:
    """Every occurrence of a key masks to one value, and every occurrence of
    a vector input key to the vector's ``name_masked`` (``masked`` maps key
    to the set of outputs seen)."""
    errs = [f"key {k}: masked to {len(m)} different values" for k, m in masked.items() if len(m) > 1]
    for v in vectors:
        key = f"Customer#{v[0]:09d}"
        seen = masked.get(key)
        if seen != {v[1]}:
            errs.append(f"key {key}: masked to {seen}, expected {{{v[1]!r}}}")
    return errs


def check_stream(
    inputs: dict[int, int], outputs: dict[int, str], expected: dict[int, str]
) -> list[str]:
    """``inputs`` maps event_id to user_id, ``outputs`` event_id to the
    streamed ``user_pseudonym`` and ``expected`` user_id to the batch
    UDF's pseudonym for the same input."""
    errs = check_count("stream output", len(inputs), len(outputs))
    for eid, uid in inputs.items():
        got = outputs.get(eid)
        if got is None:
            errs.append(f"event {eid}: missing from the output")
        elif got != expected.get(uid):
            errs.append(f"event {eid}: pseudonym {got!r}, batch UDF gives {expected.get(uid)!r}")
        elif len(got) != STREAM_PSEUDONYM_LENGTH or not got.isdigit():
            errs.append(f"event {eid}: pseudonym {got!r} is not 8 digits")
        if len(errs) > 20:
            break
    return errs


def check_oracle_result(res: dict) -> list[str]:
    """A ``tools/oracle_check.compare_query`` result."""
    if res.get("status") in ("MATCH", "TOLERANCE-MATCH"):
        return []
    return [f"{res.get('name')}: {res.get('status')} {res}"]
