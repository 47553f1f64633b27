"""Golden-output tests for the six entity pipelines on handcrafted
fixture rows (FIXTURES.md §A schemas). Expected documents are derived by
tracing the reference transforms (see each entity module's docstring for
the fidelity decisions)."""

from __future__ import annotations

import datetime as dt

import pytest

from g1_etl_spark.entities import schemas as S
from g1_etl_spark.entities.common import docs

TS1 = dt.datetime(2017, 11, 16, 14, 44, 58)
TS2 = dt.datetime(2017, 11, 19, 18, 43, 39)
EXP = dt.datetime(2017, 11, 23, 0, 0, 0)
DOB = dt.datetime(1980, 9, 2, 0, 0, 0)


def _df(spark, name, rows):
    schema = S.ALL_SCHEMAS[name]
    dicts = [dict(zip([f.name for f in schema.fields],
                      r + (None,) * (len(schema.fields) - len(r))))
             for r in rows]
    return spark.createDataFrame(
        [tuple(d[f.name] for f in schema.fields) for d in dicts], schema)


def _row(_table, **kw):
    schema = S.ALL_SCHEMAS[_table]
    unknown = set(kw) - {f.name for f in schema.fields}
    assert not unknown, f"unknown columns for {_table}: {unknown}"
    return tuple(kw.get(f.name) for f in schema.fields)


# ---------------------------------------------------------------- members
def test_members_golden(spark):
    from g1_etl_spark.entities.members import transform

    rows = [
        _row("customers", id=1, dispensary_id=1, name="Jane Doe",
             email="j@x.org", phone_number="555", address="123 Red St.",
             city="Toronto", state="MN", zip_code="55812", dob=DOB,
             license_type=1, registry_no="REG7", membership_id=2,
             given_caregivership=0, tax_exempt=1, drivers_license_no="DL9",
             points=12.5, locked_visits=0, locked_visits_reason=None,
             caregiver_id=None, card_expires_at=EXP, created_at=TS1,
             updated_at=TS2, physician_id=None,
             custom_membership_id="CM1", organization_membership_id=None,
             organization_id=420, picture_file_name="pic.jpg"),
        # falsy keys pruned; null dob defaults; wrong dispensary filtered
        _row("customers", id=2, dispensary_id=1, name="No Dob",
             license_type=2, locked_visits=1, points=0.0,
             given_caregivership=None, tax_exempt=0,
             created_at=TS1, updated_at=TS1, organization_id=0),
        _row("customers", id=3, dispensary_id=9, name="Other Disp",
             created_at=TS1, updated_at=TS1),
    ]
    out = docs(transform(_df(spark, "customers", rows), 1, 420))
    assert len(out) == 2
    m1 = next(d for d in out if d["name"] == "Jane Doe")
    assert m1 == {
        "name": "Jane Doe", "phone_number": "555", "email": "j@x.org",
        "dateOfBirth": "1980-09-02T00:00:00", "memberType": "MEDICAL",
        "mmjCard": "REG7", "isCaregiver": False,
        "identificationNumber": "DL9", "points": 12.5, "taxExempt": True,
        "accountStatus": "ACTIVE",
        "address": [{"line1": "123 Red St.", "city": "Toronto",
                     "state": "MN", "zip": "55812"}],
        "expiryDate": "2017-11-23T00:00:00",
        "identificationType": "Drivers License",
        "createdAt": "2017-11-16T14:44:58",
        "updatedAt": "2017-11-19T18:43:39",
        "keys": {"id": 1, "dispensary_id": 1,
                 "custom_membership_id": "CM1",
                 "picture_file_name": "pic.jpg", "organization_id": 420},
    }
    m2 = next(d for d in out if d["name"] == "No Dob")
    assert m2["dateOfBirth"] == "1970-01-01T00:00:00"
    assert m2["memberType"] == "RECREATIONAL"
    assert m2["accountStatus"] == "INACTIVE"
    assert m2["isCaregiver"] is False and m2["taxExempt"] is False
    # organization_id=0 and all-null fks pruned from keys
    assert m2["keys"] == {"id": 2, "dispensary_id": 1}
    assert "expiryDate" not in m2


# ---------------------------------------------------------------- vendors
def test_vendors_golden(spark):
    from g1_etl_spark.entities.vendors import transform

    rows = [
        _row("vendors", id=2, dispensary_id=1, mmjvenu_id="",
             name="John Doe", phone_number="7059185695",
             email="john@doe.net", country=None, state="MN",
             city="Toronto", address="123 Red St.", zip_code="55812",
             liscense_no="45564643563", confirmed=1,
             website="http://www.doe.net"),
        # no address, missing website => group-delete of licence/email/web
        _row("vendors", id=3, dispensary_id=1, name="Min Vendor",
             confirmed=0, email="x@y.z", liscense_no="L",
             website=None, phone_number=None),
    ]
    out = docs(transform(_df(spark, "vendors", rows), 1, 420))
    v1 = next(d for d in out if d["name"] == "John Doe")
    assert v1 == {
        "name": "John Doe", "accountStatus": "ACTIVE",
        "email": "john@doe.net", "website": "http://www.doe.net",
        "licenceNumber": "45564643563",
        "phone": [{"name": "business", "number": "7059185695",
                   "default": True}],
        "address": {"line1": "123 Red St.", "city": "Toronto",
                    "state": "MN", "zip": "55812"},
        "keys": {"dispensary_id": 1, "id": 2},  # mmjvenu_id '' pruned
    }
    v2 = next(d for d in out if d["name"] == "Min Vendor")
    assert v2 == {"name": "Min Vendor", "accountStatus": "INACTIVE",
                  "keys": {"dispensary_id": 1, "id": 3}}


# ------------------------------------------------------------- physicians
def test_physicians_golden(spark):
    from g1_etl_spark.entities.physicians import transform

    rows = [
        _row("physicians", id=5, dispensary_id=1, name="Dr. Jones",
             email="dr@x.org", created_at=TS1, updated_at=TS2,
             address="1 Care Way", city="Duluth", state="MN",
             country="US", zip_code="55812", website="http://v.org",
             license_no="MD1", phone_number="218555"),
        _row("physicians", id=6, dispensary_id=1, name="Alice",
             created_at=TS1, updated_at=TS1),
    ]
    out = docs(transform(_df(spark, "physicians", rows), 1, 420))
    p1 = next(d for d in out if d["name"] == "Jones")
    assert p1 == {
        "name": "Jones", "specialty": "General",
        "createdAt": "2017-11-16T14:44:58",
        "updatedAt": "2017-11-19T18:43:39",
        "email": "dr@x.org", "verificationWebsite": "http://v.org",
        "licenceNumber": "MD1",
        "phone": [{"name": "work", "number": "218555", "default": True}],
        "address": [{"line1": "1 Care Way", "city": "Duluth",
                     "state": "MN", "zip": "55812", "country": "US"}],
        "keys": {"dispensary_id": 1, "id": 5},
    }
    p2 = next(d for d in out if d["name"] == "Alice")
    assert "address" not in p2 and "phone" not in p2
    assert "email" not in p2 and "licenceNumber" not in p2


# -------------------------------------------------------------- employees
def test_employees_golden(spark):
    from g1_etl_spark.entities.employees import transform

    users = _df(spark, "users", [
        _row("users", id=10, email="real@x.org", first_name="Sam",
             last_name="Lee", login="slee", organization_id=420,
             created_at=TS1, updated_at=TS2),
        _row("users", id=11, email="b@x.org", first_name=None,
             last_name="Nolast", login="nn", organization_id=420,
             created_at=TS1, updated_at=TS1),
        _row("users", id=12, email="c@x.org", first_name=None,
             last_name=None, login="justlogin", organization_id=420,
             created_at=TS1, updated_at=TS1),
        _row("users", id=99, email="zz@x.org", login="notindisp",
             organization_id=420, created_at=TS1, updated_at=TS1),
    ])
    du = _df(spark, "dispensary_users", [
        _row("dispensary_users", user_id=10, dispensary_id=1, active=1,
             access=1),
        _row("dispensary_users", user_id=11, dispensary_id=1, active=0,
             access=3),
        _row("dispensary_users", user_id=12, dispensary_id=1, active=None,
             access=4),
        _row("dispensary_users", user_id=99, dispensary_id=2, active=1,
             access=1),
    ])
    out = docs(transform(users, du, 1, 420, fake_email=False, debug=False))
    assert len(out) == 3  # user 99 is in another dispensary
    e10 = next(d for d in out if d["name"] == "Sam Lee")
    assert e10["role"] == "site-admin"
    assert e10["accountStatus"] == "ACTIVE"
    assert e10["email"] == "real@x.org"
    assert e10["dateOfBirth"] == "1970-01-01T02:30:00"
    assert e10["keys"] == {"id": 10, "organization_id": 420}
    e11 = next(d for d in out if d["name"] == "None Nolast")  # C6 artifact
    assert e11["role"] == "store-manager"  # intent: access==3
    assert "accountStatus" not in e11  # active==0 falls through -> NULL
    e12 = next(d for d in out if d["name"] == "justlogin")
    assert e12["role"] == "budtender"
    assert e12["accountStatus"] == "INACTIVE"  # no active value


def test_employees_fake_email_deterministic(spark):
    from g1_etl_spark.entities.employees import transform

    users = _df(spark, "users", [
        _row("users", id=10, email="real@x.org", first_name="Sam",
             last_name="Lee", login="slee", organization_id=420,
             created_at=TS1, updated_at=TS1)])
    du = _df(spark, "dispensary_users", [
        _row("dispensary_users", user_id=10, dispensary_id=1, active=1,
             access=1)])
    a = docs(transform(users, du, 1, 420, fake_email=True))
    b = docs(transform(users, du, 1, 420, fake_email=True))
    assert a[0]["email"] == b[0]["email"] != "real@x.org"
    assert a[0]["email"].endswith("@example.org")


# --------------------------------------------------------------- settings
def test_settings_golden(spark):
    from g1_etl_spark.entities.settings import transform

    dd = _df(spark, "dispensary_details", [
        _row("dispensary_details", id=7, dispensary_id=1, menu_show_tax=1,
             logo_file_name="logo.png", inactivity_logout=45,
             calculate_even_totals=0, require_customer_referrer=1,
             membership_fee_enabled=1, pp_enabled=1,
             pp_global_dollars_to_points=1.5,
             pp_global_points_to_dollars=0.1, pp_points_per_referral=10.0,
             allow_unpaid_visits=1, red_flags_enabled=1,
             mmjrevu_api_key="KEY123", grams_hold_at=5.0,
             units_hold_at=3.0)])
    ms = _df(spark, "memberships", [_row("memberships", id=1,
                                         dispensary_id=1)])
    mp = _df(spark, "membership_prices", [
        # winner must be MIN(id) (source was ORDER BY id DESC, last wins)
        _row("membership_prices", id=1, membership_id=1,
             price_half_gram=5.0, price_gram=10.0, price_two_gram=19.99,
             price_eigth=30.0, price_quarter=55.0, price_half=100.0,
             price_ounce=190.0),
        _row("membership_prices", id=2, membership_id=1,
             price_half_gram=9.0, price_gram=9.0, price_two_gram=9.0,
             price_eigth=9.0, price_quarter=9.0, price_half=9.0,
             price_ounce=9.0),
    ])
    rf = _df(spark, "red_flags", [
        _row("red_flags", dispensary_id=1, daily_purchase_limit=28.0,
             visit_purchase_limit=14.0, daily_visit_limit=3.0,
             two_week_purchase_limit=56.5)])
    tx = _df(spark, "taxes", [
        _row("taxes", dispensary_id=1, amount=8.5, name="state"),
        _row("taxes", dispensary_id=1, amount=2.0, name="city")])
    out = docs(transform(dd, ms, mp, rf, tx, 1, 420))
    assert len(out) == 1
    s = out[0]
    assert s["organizationId"] == "420"
    assert s["sessionTimeoutDuration"] == 45
    assert s["apiKey"] == "KEY123"
    assert s["image"] == ("https://wm-mmjmenu-images-production.s3."
                          "amazonaws.com/logos/7/original/logo.png")
    assert s["keys"] == {"dispensary_id": 1, "id": 7}
    assert s["crm_member_settings"]["membershipLevel"] == {
        "membershipLevelsEnabled": True, "levelName": "Unnamed",
        "dollarsPerPoint": 1.5, "pointsPerDollar": 0.1,
        "referralPoints": 10.0}
    loc = s["location_specific"]
    assert loc["apiKey"] == "KEY123"
    assert loc["members"]["paidVisitsEnabled"] is True
    assert loc["members"]["mandatoryReferral"] is True
    assert loc["members"]["medicalLimits"] == {
        "hasLimits": True, "dailyPurchaseLimit": 28,
        "visitPurchaseLimit": 14, "dailyVisitLimit": 3,
        "monthlyPurchaseLimit": 113}  # int(56.5*2)
    assert loc["sales"] == {"enableTaxesIn": True, "hasPriceRounding": False}
    assert loc["inventory"]["weightPricing"]["breakpoints"] == {
        "price_half_gram": 500, "price_gram": 1000,
        "price_two_gram": 1998,  # int(19.99*100) float-truncation artifact
        "price_eighth": 3000, "price_quarter": 5500, "price_half": 10000,
        "price_ounce": 19000}
    # winner tax row = MAX(struct(name, amount)) stand-in -> 'state'
    assert s["sales_settings_taxes"]["taxes"] == {
        "code": "state", "percent": 0.085, "type": "sales"}


def test_settings_org_id_is_escaped(spark):
    """The organization id comes from the command line; a quote or
    backslash in it is data, not SQL."""
    from g1_etl_spark.entities.settings import transform

    dd = _df(spark, "dispensary_details", [
        _row("dispensary_details", id=7, dispensary_id=1)])
    empty = [_df(spark, t, []) for t in
             ("memberships", "membership_prices", "red_flags", "taxes")]
    out = docs(transform(dd, *empty, 1, "o'bri\\en"))
    assert [d["organizationId"] for d in out] == ["o'bri\\en"]


# ------------------------------------------------------------- menu items
def test_menu_items_golden(spark):
    from g1_etl_spark.entities.menu_items import transform

    mi = _df(spark, "menu_items", [
        _row("menu_items", id=1, vendor_id=4, menu_id=1, dispensary_id=1,
             strain_id=None, created_at=dt.datetime(2017, 12, 4, 16, 7, 15),
             updated_at=dt.datetime(2017, 12, 4, 16, 7, 15),
             category_id=100, name="Weed 1", sativa=90, indica=5,
             on_hold=1, product_type=1, image_file_name="w.jpg",
             medicine_amount=3.7),
        # on_hold=0 -> active False -> filtered out (intent of :196-199)
        _row("menu_items", id=2, vendor_id=4, menu_id=1, dispensary_id=1,
             category_id=101, name="Inactive", sativa=0, indica=0,
             on_hold=0, product_type=2, created_at=TS1, updated_at=TS1,
             medicine_amount=1.0),
        # unit product (measurement=1 -> uom 2) gets netMarijuana
        _row("menu_items", id=3, vendor_id=None, menu_id=1,
             dispensary_id=1, category_id=101, name="Edible Bar",
             sativa=0, indica=0, on_hold=1, product_type=2,
             created_at=TS1, updated_at=TS1, medicine_amount=100.9),
    ])
    cats = _df(spark, "categories", [
        _row("categories", id=100, name="Cannabis", measurement=2,
             dispensary_id=1),
        _row("categories", id=101, name="Edibles", measurement=1,
             dispensary_id=1),
    ])
    prices = _df(spark, "menu_item_prices", [
        _row("menu_item_prices", id=1, menu_item_id=1, dispensary_id=1,
             price_half_gram=1.0, price_gram=2.0, price_two_gram=3.0,
             price_eigth=4.0, price_quarter=5.0, price_half=6.0,
             price_ounce=7.0),
        # MAX(id) wins for the whole dispensary (natural-order stand-in)
        _row("menu_item_prices", id=2, menu_item_id=9, dispensary_id=1,
             price_half_gram=5.0, price_gram=10.0, price_two_gram=19.99,
             price_eigth=30.0, price_quarter=55.0, price_half=100.0,
             price_ounce=190.0),
    ])
    wm = _df(spark, "menu_item_weedmaps_integrations", [
        _row("menu_item_weedmaps_integrations", menu_item_id=1)])
    dd = _df(spark, "dispensary_details", [
        _row("dispensary_details", id=7, dispensary_id=1,
             grams_hold_at=5.5, units_hold_at=3.0)])

    out = docs(transform(mi, cats, prices, wm, dd, 1, 420))
    assert len(out) == 2  # inactive filtered
    p1 = next(d for d in out if d["name"] == "Weed 1")
    assert p1["createdAtEpoch"] == 1512403635  # epoch SECONDS (C3)
    assert p1["shareOnWM"] is True
    assert p1["unitOfMeasure"] == 1  # measurement 2 -> uom 1 (C12 flip)
    assert p1["categoryId"] == "Sativa"  # cannabis, both>0, sativa>80
    assert "netMarijuana" not in p1  # uom != 2
    assert p1["medicine_amount"] == 3.7  # reference leak, cloned
    assert p1["image_file_name"] == (
        "https://wm-mmjmenu-images-production.s3.amazonaws.com/"
        "menu_items/images/1/large/w.jpg")
    assert p1["restockLevel"] == 5.5  # product_type 1 -> grams_hold_at
    assert p1["locationProductDetails"]["id"] == 1
    assert p1["locationProductDetails"]["active"] is True
    assert p1["locationProductDetails"]["weightPricing"] == {
        "price_half_gram": 500, "price_two_gram": 1998, "price_gram": 1000,
        "price_eighth": 3000, "price_quarter": 5500, "price_half": 10000,
        "price_ounce": 19000}
    assert p1["keys"] == {"dispensary_id": 1, "id": 1, "menu_id": 1,
                          "vendor_id": 4, "category_id": 100}
    p3 = next(d for d in out if d["name"] == "Edible Bar")
    assert p3["unitOfMeasure"] == 2
    assert p3["netMarijuana"] == 100  # int(100.9) truncation
    assert p3["categoryId"] == "Edible"  # plural singularized
    assert p3["restockLevel"] == 3.0  # units_hold_at
    assert "image_file_name" not in p3
    assert p3["keys"] == {"dispensary_id": 1, "id": 3, "menu_id": 1,
                          "category_id": 101}


# ---------------------------------------------------------------- payload
def test_payload_assembly(spark):
    from g1_etl_spark.entities.assemble import build_payload

    empty = {name: _df(spark, name, []) for name in S.ALL_SCHEMAS}
    # the lower id comes second: members must come back in id order
    customers = _df(spark, "customers", [
        _row("customers", id=2, dispensary_id=1, name="Solo",
             license_type=1, created_at=TS1, updated_at=TS1),
        _row("customers", id=1, dispensary_id=1, name="Early",
             license_type=1, created_at=TS1, updated_at=TS1)])
    sources = dict(empty, customers=customers)
    payload = build_payload(sources, 1, 420, extracted_date=1700000000)
    assert payload["organizationId"] == "420"
    assert payload["source"] == "mmjMenu"
    assert payload["extractedDate"] == 1700000000
    assert payload["validated"] is False and payload["imported"] is False
    assert [m["name"] for m in payload["members"]] == ["Early", "Solo"]
    assert payload["products"] == [] and payload["vendors"] == []
    assert payload["settings"] == {}
    assert payload["summary"]["members"] == {"valid": 0, "invalid": 0}
