"""Rule-catalog tests in the reference's row-isolated style: one violation
per row, exact expected error list (SURVEY.md §5)."""

from etl_validator_github_spark.operators import rules as R
from tests.helpers import VALID_D_CHK, VALID_M_EFT, VALID_R, errors_for


def test_valid_rows_produce_no_errors(spark):
    errs = errors_for(spark, [VALID_M_EFT, VALID_D_CHK, VALID_R])
    assert errs == [[], [], []]


def test_recordoperation_invalid_z(spark):
    # Mirrors reference tests/test_recordoperation_invalid_z.py.
    errs = errors_for(spark, [{**VALID_M_EFT, "RecordOperation": "Z"}])
    assert errs[0] == ["RecordOperation must be one of A, C or D"]


def test_recordoperation_blank_and_special(spark):
    blank, special = errors_for(
        spark,
        [
            {**VALID_M_EFT, "RecordOperation": ""},
            {**VALID_M_EFT, "RecordOperation": "$"},
        ],
    )
    assert "RecordOperation must be one of A, C or D" in blank
    assert "RecordOperation must be one of A, C or D" in special
    assert "RecordOperation must not contain special characters" in special


def test_organizationcode_enum(spark):
    errs = errors_for(spark, [{**VALID_M_EFT, "OrganizationCode": "H"}])
    assert "OrganizationCode must be one of M, D, P or R" in errs[0]


def test_rtn_eft_rules_emit_verbatim_evidence_strings(spark):
    # The exact comma-joined pair preserved in the evidence error file
    # (mtfdm_dev2_dmbankerrorfile_20260310_142832.csv line 2).
    errs = errors_for(spark, [{**VALID_M_EFT, "RoutingTransitNumber": "ABC12"}])
    assert errs[0] == [R.MSG_RTN_9_DIGITS, R.MSG_RTN_NUMERIC_EFT]


def test_rtn_short_numeric_needs_leading_zeros(spark):
    errs = errors_for(spark, [{**VALID_M_EFT, "RoutingTransitNumber": "54321"}])
    assert R.MSG_RTN_9_DIGITS in errs[0]


def test_rtn_chk_must_be_blank(spark):
    errs = errors_for(
        spark, [{**VALID_D_CHK, "RoutingTransitNumber": "123456789"}]
    )
    assert errs[0] == [R.MSG_CHK_RTN_BLANK]


def test_orgcode_r_banking_must_be_blank(spark):
    errs = errors_for(spark, [{**VALID_R, "RoutingTransitNumber": "123456789"}])
    assert errs[0] == [R.MSG_R_ALL_BLANK]


def test_tintype_invalid_emits_both_evidence_strings(spark):
    # XZXZ: wrong length AND not in enum -> both tokens, exactly as in
    # evidence file mtfdm_dev2_dmbankerrorfile_20260310_165012.csv.
    errs = errors_for(spark, [{**VALID_M_EFT, "OrganizationTINType": "XZXZ"}])
    assert errs[0] == [R.MSG_TINTYPE_LENGTH, R.MSG_TINTYPE_INVALID]
    # XXX: right length, wrong value -> only the enum token.
    errs = errors_for(spark, [{**VALID_M_EFT, "OrganizationTINType": "XXX"}])
    assert errs[0] == [R.MSG_TINTYPE_INVALID]


def test_payeeid_orgid_pairing(spark):
    errs = errors_for(
        spark, [{**VALID_M_EFT, "OrganizationIdentifier": "MFR999"}]
    )
    assert "PayeeID must match OrganizationIdentifier for M, D and P records" in errs[0]
    errs = errors_for(spark, [{**VALID_R, "PayeeID": "987654321",
                               "OrganizationIdentifier": "987654321"}])
    assert "PayeeID must differ from OrganizationIdentifier for R records" in errs[0]


def test_payeeid_invalid_format(spark):
    # Mirrors reference tests/test_payeeid_invalid_xcd555.py.
    errs = errors_for(spark, [
        {**VALID_M_EFT, "PayeeID": "XCD555", "OrganizationIdentifier": "XCD555"}
    ])
    assert (
        "PayeeID must be alphanumeric with a valid organization prefix" in errs[0]
    )


def test_tin_blank_required_for_dp(spark):
    errs = errors_for(spark, [{**VALID_D_CHK, "OrganizationTIN": ""}])
    assert "OrganizationTIN is required for D and P records" in errs[0]


def test_mfr_tin_999999999_is_valid(spark):
    # R25: the sentinel TIN is intentionally submitted and must NOT error.
    errs = errors_for(spark, [{**VALID_M_EFT, "OrganizationTIN": "999999999"}])
    assert errs[0] == []


def test_npi_rules(spark):
    single, letters, blank = errors_for(
        spark,
        [
            {**VALID_M_EFT, "OrganizationNPI": "1"},
            {**VALID_M_EFT, "OrganizationNPI": "XxXyYyZzZz"},
            {**VALID_M_EFT, "OrganizationNPI": ""},
        ],
    )
    msg = "OrganizationNPI must be 10 numeric digits starting with a non-zero digit"
    assert msg in single and msg in letters
    assert blank == []


def test_paymentmode_enum(spark):
    for bad in ("123", "POP", "XYZ"):
        errs = errors_for(spark, [{**VALID_M_EFT, "PaymentMode": bad}])
        assert "PaymentMode must be EFT or CHK" in errs[0], bad


def test_accountnumber_rules(spark):
    single, long18, chk = errors_for(
        spark,
        [
            {**VALID_M_EFT, "AccountNumber": "8"},
            {**VALID_M_EFT, "AccountNumber": "1" * 18},
            {**VALID_D_CHK, "AccountNumber": "123456"},
        ],
    )
    assert "AccountNumber must be 2 to 17 numeric digits for EFT records" in single
    assert "AccountNumber must be 2 to 17 numeric digits for EFT records" in long18
    assert "For PaymentMode CHK, AccountNumber must be blank" in chk


def test_accounttype_rules(spark):
    lower, junk = errors_for(
        spark,
        [
            {**VALID_M_EFT, "AccountType": "checking"},
            {**VALID_M_EFT, "AccountType": "$%$%"},
        ],
    )
    assert "AccountType must be CHKING or SAVING for EFT records" in lower
    assert "AccountType must be CHKING or SAVING for EFT records" in junk


def test_effectivestartdate_rules(spark):
    blank, slash = errors_for(
        spark,
        [
            {**VALID_M_EFT, "EffectiveStartDate": ""},
            {**VALID_M_EFT, "EffectiveStartDate": "2026/03/03"},
        ],
    )
    assert "EffectiveStartDate is required" in blank
    assert "EffectiveStartDate must be a valid date in YYYY-MM-DD format" in slash


def test_effectiveenddate_rules(spark):
    before = errors_for(
        spark,
        [{**VALID_M_EFT, "EffectiveStartDate": "2026-03-10",
          "EffectiveEndDate": "2026-03-01"}],
    )
    assert "EffectiveEndDate must not be before EffectiveStartDate" in before[0]


def test_addresscode_pairing_dp(spark):
    # D/P + CHK -> PMT required; D/P + EFT -> COR required
    # (reference tests/test_addresscode_paymentmode_rules_dp_combined.py).
    eft_pmt = {**VALID_D_CHK, "PaymentMode": "EFT",
               "RoutingTransitNumber": "123456789", "AccountNumber": "123456",
               "AccountType": "CHKING", "AddressCode": "PMT"}
    chk_cor = {**VALID_D_CHK, "AddressCode": "COR"}
    e1, e2 = errors_for(spark, [eft_pmt, chk_cor])
    msg = "AddressCode must be PMT for CHK and COR for EFT on D and P records"
    assert msg in e1 and msg in e2


def test_state_format_only(spark):
    # Format-only, not a state-code list (tests/test_state_invalid_format.py).
    ok, bad_len, bad_digit = errors_for(
        spark,
        [
            {**VALID_M_EFT, "State": "ZZ"},  # not a real state; still valid
            {**VALID_M_EFT, "State": "STATE"},
            {**VALID_M_EFT, "State": "C1"},
        ],
    )
    assert ok == []
    assert "State must be exactly 2 characters" in bad_len
    assert "State must be exactly 2 characters" in bad_digit


def test_postalcode_rules(spark):
    for bad in ("123", "90210#", "@#$%!!", "12#45"):
        errs = errors_for(spark, [{**VALID_M_EFT, "PostalCode": bad}])
        assert "PostalCode must be 5 to 10 alphanumeric characters" in errs[0], bad


def test_contact_rules(spark):
    digit_name, no_first, bad_phone = errors_for(
        spark,
        [
            {**VALID_D_CHK, "ContactFirstName": "John123"},
            {**VALID_D_CHK, "ContactFirstName": ""},
            {**VALID_D_CHK, "ContactPhone": "123ABC4567"},
        ],
    )
    assert (
        "ContactFirstName must be at most 20 characters without digits or special characters"
        in digit_name
    )
    assert "ContactFirstName is required for D and P records" in no_first
    assert (
        "ContactPhone must be at most 25 characters with digits and separators only"
        in bad_phone
    )


def test_contactemail_length_only(spark):
    # "No RFC format validation, only max length check"
    # (reference tests/test_contactemail_over_max_length.py:7-8).
    not_an_email, too_long = errors_for(
        spark,
        [
            {**VALID_M_EFT, "ContactEmail": "not an email at all"},
            {**VALID_M_EFT, "ContactEmail": "x" * 100},
        ],
    )
    assert not_an_email == []
    assert "ContactEmail must be at most 99 characters" in too_long


def test_special_characters_rejected_across_core_fields(spark):
    # Mirrors tests/test_chk_core_fields_special_characters_combined.py.
    errs = errors_for(spark, [
        {**VALID_M_EFT, "OrganizationName": "Name!"},
        {**VALID_M_EFT, "OrganizationLegalName": "Legal@"},
        {**VALID_M_EFT, "CityName": "City!"},
    ])
    assert any("OrganizationName" in e for e in errs[0])
    assert any("OrganizationLegalName" in e for e in errs[1])
    assert any("CityName" in e for e in errs[2])


def test_blank_and_null_are_equivalent(spark):
    # GEN:475-479 --blank-as-null: '' and NULL must validate identically.
    blank = {**VALID_D_CHK, "OrganizationTIN": ""}
    null = {**VALID_D_CHK, "OrganizationTIN": None}
    e_blank, e_null = errors_for(spark, [blank, null])
    assert e_blank == e_null
    assert "OrganizationTIN is required for D and P records" in e_blank


def test_multi_error_message_order_is_catalog_order(spark):
    errs = errors_for(
        spark,
        [{**VALID_M_EFT, "RoutingTransitNumber": "BAD", "AccountType": "nope"}],
    )
    # Deterministic catalog order: RTN rules come before AccountType rules.
    assert errs[0].index(R.MSG_RTN_9_DIGITS) < errs[0].index(
        "AccountType must be CHKING or SAVING for EFT records"
    )


def test_skyline_matches_brute_force_dominance(spark):
    """Property check on a small random-ish grid: the bucketed
    prefix-max skyline equals the O(n^2) dominance definition exactly
    (ties included). Prices are spread across several 100-cent buckets
    so the cross-bucket prefix-max path is exercised, not just the
    intra-bucket window."""
    from pyspark.sql import functions as F

    from etl_validator_github_spark.contract import cents
    from etl_validator_github_spark.queries.relational import skyline_2d

    rows = [(i, float((i * 37) % 19 + 1),
             ((i * 53) % 13) + 1) for i in range(60)]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int")
    part = df.select(
        "p_partkey", cents("p_retailprice").alias("price_cents"),
        F.col("p_size").cast("int").alias("size"))
    got = sorted(r["p_partkey"] for r in skyline_2d(part).collect())
    pts = {k: (p, s) for k, p, s in
           ((r[0], round(r[1] * 100), r[2]) for r in rows)}
    def dominated(k):
        p, s = pts[k]
        return any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for k2, (p2, s2) in pts.items() if k2 != k
        )
    want = sorted(k for k in pts if not dominated(k))
    assert got == want


def test_flat_all_blank_equals_and_of_is_blank(spark):
    """``_all_blank``'s one-comparison form equals the AND of
    ``is_blank`` over the R fields, for each field taking NULL, '',
    whitespace only or a value while the other fields are blank."""
    from pyspark.sql import functions as F

    from etl_validator_github_spark.functions.core import is_blank
    from etl_validator_github_spark.schema import R_BLANK_FIELDS

    fields = list(R_BLANK_FIELDS)
    values = [None, "", "   ", " x "]
    rows = [
        tuple(v if f == g else "" for g in fields)
        for f in fields for v in values
    ] + [(None,) * len(fields), ("  ",) * len(fields)]
    df = spark.createDataFrame(rows, ", ".join(f"{f} string" for f in fields))
    anded = F.lit(True)
    for f in fields:
        anded = anded & is_blank(f)
    got = df.select(R._all_blank(R_BLANK_FIELDS).alias("flat"),
                    anded.alias("anded")).collect()
    assert [(r.flat, r.anded) for r in got] == [
        (not any(v == " x " for v in row),) * 2 for row in rows]


def test_rule_projection_optimizes_near_its_fixpoint(spark):
    """Catalyst optimizes the catalog projection in few rule runs. A
    predicate the optimizer rewrites one level per fixpoint iteration
    (a NOT over a left-deep AND) made the operator-optimization batch
    re-run every rule over the whole tree ~17 times (1,535 rule runs)."""
    from etl_validator_github_spark.generator import generate_bankdata
    from etl_validator_github_spark.operators.validate import failing_records

    executor = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor  # noqa: SLF001
    df = failing_records(generate_bankdata(spark, 10, seed=246))
    executor.resetMetrics()
    df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    runs = executor.getCurrentMetrics().numRuns()
    assert runs <= 1000, f"{runs} rule runs:\n{executor.dumpTimeSpent()}"
