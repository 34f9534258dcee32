import duckdb

from perfbench.gen import DUP_SHARE, generate


def test_same_seed_same_bytes(tmp_path):
    a = generate("interactive", 7, str(tmp_path / "a"))
    b = generate("interactive", 7, str(tmp_path / "b"))
    c = generate("interactive", 8, str(tmp_path / "c"))
    assert {k: v["sha256_16"] for k, v in a.items()} == {k: v["sha256_16"] for k, v in b.items()}
    assert a["lineitem"]["sha256_16"] != c["lineitem"]["sha256_16"]
    assert a["lineitem"]["rows"] == c["lineitem"]["rows"]


def test_profile_inputs_carry_the_injected_defects(tmp_path):
    m = generate("profile", 3, str(tmp_path))
    main, base = m["profile"]["path"], m["baseline"]["path"]
    con = duckdb.connect()
    rows, distinct, null_qty, null_mode = con.execute(f"""
        SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT * FROM '{main}')),
               count(*) - count(l_quantity), count(*) - count(l_shipmode) FROM '{main}'
    """).fetchone()
    assert rows - distinct == round((rows / (1 + DUP_SHARE)) * DUP_SHARE)
    assert null_qty > 0 and null_mode > 0
    # skew: the most common ship mode covers far more than 1/7 of the rows
    top = con.execute(f"""SELECT max(n) FROM (SELECT count(*) n FROM '{main}'
                          WHERE l_shipmode IS NOT NULL GROUP BY l_shipmode)""").fetchone()[0]
    assert top > 0.4 * (rows - null_mode)
    # outliers: a price far beyond the bulk
    p99, mx = con.execute(
        f"SELECT quantile_cont(l_extendedprice, 0.99), max(l_extendedprice) FROM '{main}'"
    ).fetchone()
    assert mx > 5 * p99
    # drift: the baseline's quantity mean is shifted
    m_main = con.execute(f"SELECT avg(l_quantity) FROM '{main}'").fetchone()[0]
    m_base = con.execute(f"SELECT avg(l_quantity) FROM '{base}'").fetchone()[0]
    assert m_base - m_main > 4
    con.close()
