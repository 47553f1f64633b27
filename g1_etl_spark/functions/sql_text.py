"""Reference scalar and nested builders (SURVEY §2.9 C1–C26, §2.8 N1–N6)
as Spark SQL text.

Each builder takes SQL expression text for its inputs and returns the
SQL text of the result; callers hand the assembled text to one
``selectExpr`` / ``F.expr`` call. They are text, not Column objects,
because text costs no py4j round-trips to build. Everything compiles
to native Catalyst expressions (whole-stage codegen, zero Python UDFs —
the reference's petl lambdas all become JVM-side expressions,
SURVEY §2.10).

Fidelity policy (SURVEY §7.4):
  - "clone-exactly": deterministic oddities are reproduced bit-for-bit and
    documented inline (truncation, 'None Smith' concat, enum flips).
  - "clone-the-intent": reference *bugs* (role id==3 test, mixed-type
    returns) are implemented as intended, with the divergence noted.
"""

from __future__ import annotations


def _sql_str(value) -> str:
    """str(value) as a single-quoted SQL string literal, with backslash
    and quote escaped so any value parses as data."""
    s = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


_ISO_SQL = _sql_str("yyyy-MM-dd'T'HH:mm:ss")

# Python-truthiness surrogate on stringified values: the reference drops
# keys whose value is falsy (None / 0 / 0.0 / '' / False —
# mmj/entities/members.py:120-122 et al.), which stringify to:
_FALSY_IN = "('', '0', '0.0', 'false', 'False')"


# -- nested constructors (N1–N6) ------------------------------------------
def truthiness_pruned_map(pairs: dict[str, str]) -> str:
    """N1/F5: build a string->string map and drop falsy-valued entries
    (Spark maps are homogeneous, so values are stringified).

    Reference: `keys` dict + truthiness pruning, e.g.
    mmj/entities/members.py:105-122, menu_items.py:133-148.
    """
    entries = ", ".join(f"'{k}', CAST(({v}) AS STRING)"
                        for k, v in pairs.items())
    return (f"map_filter(map({entries}), "
            f"(k, v) -> v IS NOT NULL AND NOT v IN {_FALSY_IN})")


def falsy_to_null(col: str) -> str:
    """Python-truthiness gate preserving the original type: falsy values
    (NULL / 0 / 0.0 / '' / false) become NULL, so a wrapping struct field
    vanishes from to_json output — the reference's key-delete semantics
    with the original JSON value types intact."""
    s = f"CAST(({col}) AS STRING)"
    return (f"CASE WHEN {s} IS NOT NULL AND NOT {s} IN {_FALSY_IN} "
            f"THEN ({col}) END")


def phone_array(number: str, name: str = "business") -> str:
    """N3: [{name, number, default:true}] when number present, else NULL
    (absent key). Reference: mmj/entities/vendors.py:82-89."""
    return (f"CASE WHEN ({number}) IS NOT NULL THEN "
            f"array(named_struct('name', {_sql_str(name)}, "
            f"'number', ({number}), 'default', TRUE)) END")


def named_struct(*pairs: tuple[str, str]) -> str:
    """Struct of (field name, expression) pairs; NULL fields vanish from
    to_json output (absent-key semantics, F4)."""
    inner = ", ".join(f"{_sql_str(n)}, {e}" for n, e in pairs)
    return f"named_struct({inner})"


# -- C1 -------------------------------------------------------------------
def true_or_false(col: str) -> str:
    """1 -> true, anything else (incl. 0 and NULL) -> false.

    Reference: mmj/utilities/utils.py:149-157 (`true_or_false`).
    """
    return f"COALESCE(({col}) = 1, FALSE)"


# -- C2 -------------------------------------------------------------------
def account_status_inverted(col: str) -> str:
    """1 -> 'INACTIVE', 0 -> 'ACTIVE', else NULL.

    Reference: mmj/utilities/utils.py:160-168 (`account_status`) — note the
    inversion vs C1 and its mixed-type `False` fallback; we diverge by
    returning NULL for the (unreachable in practice) fallback, documented
    per SURVEY §7.4 clone-the-intent.
    """
    return (f"CASE WHEN ({col}) = 1 THEN 'INACTIVE' "
            f"WHEN ({col}) = 0 THEN 'ACTIVE' END")


# -- C3 -------------------------------------------------------------------
def create_epoch(col: str) -> str:
    """datetime -> epoch SECONDS (not ms; the golden doc shows ms but the
    code produces seconds — code wins, SURVEY §1.2).

    Reference: mmj/utilities/utils.py:171-175.
    """
    return f"unix_timestamp({col})"


# -- C4 -------------------------------------------------------------------
def dollars_to_cents(col: str) -> str:
    """dollars * 100 truncated toward zero — int(d*100), NOT rounded.

    Reference: mmj/utilities/utils.py:178-180. Uses float multiply then
    truncation so 19.99 -> 1998 when 19.99*100 == 1998.9999... — the
    reference's float artifact is preserved (clone-exactly). int()
    truncates toward zero while FLOOR rounds toward -inf, so negatives
    floor their negation.
    """
    d = f"(CAST(({col}) AS DOUBLE) * 100)"
    return (f"CAST(CASE WHEN {d} >= 0 THEN FLOOR({d}) "
            f"ELSE -FLOOR(-{d}) END AS BIGINT)")


# -- C5 -------------------------------------------------------------------
def iso(col: str) -> str:
    """datetime/date -> ISO-8601 string (reference json_serial).

    Reference: mmj/utilities/utils.py:60-64.
    """
    return f"date_format({col}, {_ISO_SQL})"


# -- C6 -------------------------------------------------------------------
def set_name(first: str, last: str, login: str) -> str:
    """Both names NULL -> login; else '{first} {last}' with Python-str
    semantics: a single NULL stringifies to 'None' ('None Smith').

    Reference: mmj/entities/employees.py:116-124. Clone-exactly (the
    'None' literal artifact is deterministic and hash-checked in entity
    goldens).
    """
    return (f"CASE WHEN ({first}) IS NULL AND ({last}) IS NULL "
            f"THEN ({login}) ELSE concat_ws(' ', "
            f"COALESCE(({first}), 'None'), COALESCE(({last}), 'None')) "
            f"END")


# -- C7 -------------------------------------------------------------------
def deterministic_email(id_col: str, domain: str = "example.org") -> str:
    """Deterministic stand-in for Faker safe_email() (nondeterministic in
    the reference; excluded from hash checks there, SURVEY §7.4).

    Reference: mmj/entities/employees.py:127-132.
    """
    return (f"concat(substring(sha2(CAST(({id_col}) AS STRING), 256), "
            f"1, 12), '@{domain}')")


# -- C8 -------------------------------------------------------------------
def member_type(license_type: str) -> str:
    """license_type == 1 -> 'MEDICAL' else 'RECREATIONAL'.

    Reference: mmj/entities/members.py:78-79.
    """
    return (f"CASE WHEN ({license_type}) = 1 THEN 'MEDICAL' "
            f"ELSE 'RECREATIONAL' END")


# -- C9 -------------------------------------------------------------------
def assign_role(access: str) -> str:
    """access 1|2 -> 'site-admin'; 3 -> 'store-manager'; else/missing ->
    'budtender'.

    Reference: mmj/entities/employees.py:155-177. The reference tests
    `user['id'] == 3` (a bug — compares the *user id*, not access); we
    implement the documented intent (access == 3), SURVEY §7.4
    clone-the-intent.
    """
    return (f"CASE WHEN ({access}) IN (1, 2) THEN 'site-admin' "
            f"WHEN ({access}) = 3 THEN 'store-manager' "
            f"ELSE 'budtender' END")


# -- C10 ------------------------------------------------------------------
def employee_active_status(active: str) -> str:
    """dispensary_users.active == 1 -> 'ACTIVE'; missing (no row) ->
    'INACTIVE'; == 0 -> NULL (the reference falls through with no return).

    Reference: mmj/entities/employees.py:135-152. Clone-exactly: the
    0 -> None fallthrough is deterministic.
    """
    return (f"CASE WHEN ({active}) = 1 THEN 'ACTIVE' "
            f"WHEN ({active}) IS NULL THEN 'INACTIVE' END")


# -- C11 ------------------------------------------------------------------
def menu_item_active(on_hold: str) -> str:
    """on_hold == 1 -> true else false (suspect inverted in the reference;
    cloned as-is per SURVEY §7.4).

    Reference: mmj/entities/menu_items.py:210-216.
    """
    return f"COALESCE(({on_hold}) = 1, FALSE)"


# -- C12 ------------------------------------------------------------------
def map_uom(measurement: str) -> str:
    """category measurement 1 -> 2, else -> 1 (GRAM/EACH -> UNITS/GRAM
    enum flip).

    Reference: mmj/entities/menu_items.py:254-274.
    """
    return f"CASE WHEN ({measurement}) = 1 THEN 2 ELSE 1 END"


# -- C13 ------------------------------------------------------------------
_SINGULARIZE = {"Seeds": "Seed", "Drinks": "Drink", "Edibles": "Edible"}
# PLURAL_CATEGORIES / CAT_MAP cloned from menu_items.py:29-33 (values only).
_CAT_MAP = ("Indica", "Sativa", "Hybrid", "Edible", "Concentrate", "Drink",
            "Clone", "Seed", "Tinctures", "Gear", "Topicals", "Preroll",
            "Wax", "Hash")


def map_categories(name: str, sativa: str, indica: str) -> str:
    """Category normalization chain — exact decision order of the
    reference (mmj/entities/menu_items.py:277-304):

    1. name.lower()=='cannabis': if BOTH sativa>0 AND indica>0 then
       sativa>80 -> 'Sativa', indica>80 -> 'Indica', neither -> fall
       through; if NOT both>0 -> 'Hybrid' (so sativa=90/indica=0 is
       'Hybrid', not 'Sativa' — cloned as-is).
    2. lower()=='paraphernalia' -> 'Gear'; 'tincture' -> 'Tinctures';
       'prerolled' -> 'Preroll'.
    3. name in PLURAL_CATEGORIES -> literal singularization (the
       reference uses pattern.text.en.singularize on exactly 3 known
       values — no NLP lib needed).
    4. name not in CAT_MAP -> 'Other' (this also catches the cannabis
       fall-through, since 'Cannabis' is not in CAT_MAP); else passthrough.

    NULL percentages compare like Py2 None (< everything): coalesced to
    false, so NULLs land in 'Hybrid' exactly as the reference does.
    """
    nl = f"lower({name})"
    s_pos = f"COALESCE(({sativa}) > 0, FALSE)"
    i_pos = f"COALESCE(({indica}) > 0, FALSE)"
    both = f"({s_pos} AND {i_pos})"
    # singularization as nested CASEs, built outward from a NULL core
    sing = "CAST(NULL AS STRING)"
    for k, v in _SINGULARIZE.items():
        sing = f"CASE WHEN ({name}) = '{k}' THEN '{v}' ELSE {sing} END"
    in_sing = ", ".join(f"'{k}'" for k in _SINGULARIZE)
    in_cat = ", ".join(f"'{c}'" for c in _CAT_MAP)
    return (
        f"CASE WHEN {nl} = 'cannabis' AND {both} "
        f"AND COALESCE(({sativa}) > 80, FALSE) THEN 'Sativa' "
        f"WHEN {nl} = 'cannabis' AND {both} "
        f"AND COALESCE(({indica}) > 80, FALSE) THEN 'Indica' "
        f"WHEN {nl} = 'cannabis' AND NOT {both} THEN 'Hybrid' "
        f"WHEN {nl} = 'paraphernalia' THEN 'Gear' "
        f"WHEN {nl} = 'tincture' THEN 'Tinctures' "
        f"WHEN {nl} = 'prerolled' THEN 'Preroll' "
        f"WHEN ({name}) IN ({in_sing}) THEN {sing} "
        f"WHEN NOT ({name}) IN ({in_cat}) THEN 'Other' "
        f"ELSE ({name}) END")


# -- C14 ------------------------------------------------------------------
DR_PREFIX_RE = r"(?i)^(Dr(?:.)?s|(?:Dr.?))"


def strip_dr_prefix(name: str) -> str:
    """Strip a leading Dr./Drs. prefix, then trim.

    Reference: mmj/entities/physicians.py:93-96 (same regex, IGNORECASE).
    """
    return f"trim(regexp_replace({name}, '{DR_PREFIX_RE}', ''))"


# -- C15 ------------------------------------------------------------------
def image_url(kind: str, id_col: str, file_col: str,
              debug: bool = False) -> str:
    """S3 image URL build; NULL file -> NULL. Menu-item images use the
    'large' size, every other kind 'original'.

    Reference: mmj/utilities/utils.py:71-73; per-entity call sites
    mmj/entities/menu_items.py:118-128, settings.py:118-128.
    """
    env = "development" if debug else "production"
    size = "large" if kind == "menu_items/images" else "original"
    fmt = (f"https://wm-mmjmenu-images-%s.s3.amazonaws.com/%s/%s/{size}/%s")
    return (f"CASE WHEN ({file_col}) IS NOT NULL THEN "
            f"format_string('{fmt}', '{env}', '{kind}', "
            f"CAST(({id_col}) AS STRING), ({file_col})) END")


# -- C16 ------------------------------------------------------------------
def dob_default(dob: str) -> str:
    """NULL dob -> epoch-0 datetime.

    Reference: mmj/entities/members.py:136-138.
    """
    return (f"COALESCE(({dob}), "
            f"CAST('1970-01-01 00:00:00' AS TIMESTAMP))")


# -- C17 ------------------------------------------------------------------
def employee_const_dob() -> str:
    """Constant datetime(1970,1,1,2,30).

    Reference: mmj/entities/employees.py:76-78.
    """
    return "CAST('1970-01-01 02:30:00' AS TIMESTAMP)"


# -- C18 ------------------------------------------------------------------
def net_marijuana(uom: str, medicine_amount: str) -> str:
    """uom == 2 -> int(medicine_amount) else NULL (reference `is` identity
    test on a small int == semantic ==2).

    Reference: mmj/entities/menu_items.py:142-144.
    """
    return (f"CASE WHEN ({uom}) = 2 "
            f"THEN CAST(({medicine_amount}) AS BIGINT) END")


# -- C19 ------------------------------------------------------------------
def tax_percent(amount: str) -> str:
    """amount / 100 (true division).

    Reference: mmj/entities/settings.py:171-176.
    """
    return f"(CAST(({amount}) AS DOUBLE) / 100)"


# -- C20 ------------------------------------------------------------------
def monthly_purchase_limit(two_week: str) -> str:
    """int(two_week_purchase_limit * 2) — multiply FIRST, then truncate
    (int(2.6*2)=5, not int(2.6)*2=4).

    Reference: mmj/entities/settings.py:196-204.
    """
    return f"CAST((({two_week}) * 2) AS BIGINT)"


# -- C21 ------------------------------------------------------------------
def expiry_date_copy(card_expires_at: str) -> str:
    """Duplicate card_expires_at into expiryDate when non-NULL.

    Reference: mmj/entities/members.py:116-117.
    """
    return (f"CASE WHEN ({card_expires_at}) IS NOT NULL "
            f"THEN ({card_expires_at}) END")


# -- C22/C23 --------------------------------------------------------------
def identification_type() -> str:
    """Constant 'Drivers License' (mmj/entities/members.py:125)."""
    return "'Drivers License'"


def physician_specialty() -> str:
    """Constant 'General' (mmj/entities/physicians.py:107)."""
    return "'General'"


# -- C24 ------------------------------------------------------------------
def vendor_account_status(confirmed: str) -> str:
    """confirmed == 1 -> 'ACTIVE' else 'INACTIVE'.

    Reference: mmj/entities/vendors.py:54-55.
    """
    return (f"CASE WHEN ({confirmed}) = 1 THEN 'ACTIVE' "
            f"ELSE 'INACTIVE' END")


# -- C25 ------------------------------------------------------------------
def organization_id_lit(organization_id) -> str:
    """Stringified constant organizationId per run (escaped: the value
    comes from the command line).

    Reference: mmj/etl_import.py:22 (correct form); the fieldmap-constant
    bug at mmj/entities/settings.py:77 is not cloned (SURVEY §7.4).
    """
    return _sql_str(organization_id)


# -- C26 ------------------------------------------------------------------
def account_status_notes(locked_visits_reason: str) -> str:
    """accountStatusNotes <- locked_visits_reason (the reference maps it
    backwards and then deletes the output — we implement the intent,
    SURVEY §7.4).

    Reference: mmj/entities/members.py:89,152.
    """
    return f"({locked_visits_reason})"
