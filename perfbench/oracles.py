"""DuckDB oracles for the benchmark's output checks.

Mart oracles: the reference dbt mart SQL (the same statements
``tests/test_marts_oracle.py`` checks the marts against) over the staging
views of ``tests/duck_oracle.py``, run on the generated lake. The written
marts are read back from their partitioned parquet directories.

Corpus oracle: the contract's batch-sequential replay of the streaming
corpus ingest, ``oracle_sql()["stream_corpus_ingest"]``, over the same
documents file the stream read.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pandas as pd

from tests.duck_oracle import assert_frames_match, connect_with_staging

_MONTH_END = """
with month_end as (
  select * from (
    select loan_id, as_of_date, days_past_due, dpd_bucket,
           date_trunc('month', as_of_date)::date as month,
           row_number() over (partition by loan_id, date_trunc('month', as_of_date)
                              order by as_of_date desc) as rn
    from stg_arrears_daily) x
  where rn = 1
),
x as (
  select loan_id, month,
         lag(dpd_bucket) over (partition by loan_id order by month) as prev_bucket,
         dpd_bucket as curr_bucket
  from month_end
)
"""

MART_SQL = {
    "fct_dpd_daily": """
        select a.as_of_date, a.loan_id, l.borrower_id, l.product_type, l.currency,
               l.origination_date, l.principal_current as exposure,
               a.days_past_due, a.dpd_bucket, a.npl_flag, a.past_due_amount_total
        from stg_arrears_daily a
        join stg_loan_contract l using (loan_id)
    """,
    "fct_npl_monthly": """
        with m as (
          select date_trunc('month', as_of_date)::date as month,
                 l.product_type, l.currency,
                 sum(l.principal_current) as total_exposure,
                 sum(case when a.npl_flag then l.principal_current else 0 end) as npl_exposure
          from stg_arrears_daily a join stg_loan_contract l using (loan_id)
          group by 1,2,3)
        select month, product_type, currency, total_exposure, npl_exposure,
               case when total_exposure = 0 then null
                    else npl_exposure / total_exposure end as npl_ratio
        from m
    """,
    "fct_roll_rate_monthly": _MONTH_END + """
        select month, prev_bucket, curr_bucket, count(*) as loans_cnt
        from x where prev_bucket is not null group by 1,2,3
    """,
    "fct_cure_rate_monthly": _MONTH_END + """
        select month,
               count(*) filter (where prev_bucket <> '0') as prev_delinquent_cnt,
               count(*) filter (where prev_bucket <> '0' and curr_bucket = '0') as cured_cnt,
               (count(*) filter (where prev_bucket <> '0' and curr_bucket = '0'))::double
                 / nullif(count(*) filter (where prev_bucket <> '0'),0) as cure_rate
        from x where prev_bucket is not null group by 1
    """,
    "fct_vintage_mob": """
        with month_end as (
          select * from (
            select loan_id, as_of_date, days_past_due, dpd_bucket,
                   date_trunc('month', as_of_date)::date as month,
                   row_number() over (partition by loan_id, date_trunc('month', as_of_date)
                                      order by as_of_date desc) as rn
            from stg_arrears_daily) x
          where rn = 1),
        base as (
          select l.loan_id, date_trunc('quarter', l.origination_date)::date as cohort_q,
                 me.month,
                 (date_part('year', age(me.month, l.origination_date))*12
                  + date_part('month', age(me.month, l.origination_date)))::int as mob,
                 (me.days_past_due > 0) as delinquent_flag,
                 (me.days_past_due > 90) as npl_flag
          from month_end me join stg_loan_contract l using (loan_id))
        select cohort_q, mob, count(*) as loans_cnt,
               sum(delinquent_flag::int) as delinquent_cnt,
               sum(npl_flag::int) as npl_cnt,
               sum(delinquent_flag::int)::double / nullif(count(*),0) as delinquent_rate,
               sum(npl_flag::int)::double / nullif(count(*),0) as npl_rate
        from base where mob >= 0 group by 1,2
    """,
    "fct_collections_monthly": """
        select date_trunc('month', p.payment_date)::date as month,
               l.product_type, p.currency,
               sum(p.amount_received) as collected_amount
        from stg_payments p join stg_loan_contract l using (loan_id)
        group by 1,2,3
    """,
    "fct_writeoff_recovery_monthly": """
        select date_trunc('month', coalesce(recovery_date, writeoff_date))::date as month,
               sum(coalesce(writeoff_amount_principal,0) + coalesce(writeoff_amount_interest,0)
                   + coalesce(writeoff_amount_fees,0)) as writeoff_total,
               sum(coalesce(recovery_amount,0)) as recovery_total
        from stg_writeoff_recovery group by 1
    """,
}

# partition column of each written mart; the writer derives ``as_of_month``
# for fct_dpd_daily, which is not a column of the model itself
PARTITION = {
    "fct_dpd_daily": "as_of_month",
    "fct_npl_monthly": "month",
    "fct_roll_rate_monthly": "month",
    "fct_cure_rate_monthly": "month",
    "fct_collections_monthly": "month",
    "fct_writeoff_recovery_monthly": "month",
    "fct_vintage_mob": "cohort_q",
}
DERIVED_COLUMNS = {"fct_dpd_daily": ["as_of_month"]}


def _read_mart(con, marts_dir: Path, name: str) -> pd.DataFrame | None:
    """The written mart as a frame, or None when it holds no data files."""
    root = marts_dir / f"{name}.parquet"
    if not any(root.rglob("*.parquet")):
        return None
    part = PARTITION[name]
    df = con.execute(
        f"select * from read_parquet('{root}/**/*.parquet', hive_partitioning=1, "
        f"hive_types={{'{part}': DATE}})"
    ).df()
    return df.drop(columns=DERIVED_COLUMNS.get(name, []))


class MartOracle:
    """The seven mart oracles over one lake, computed once per lake."""

    def __init__(self, lake_dir: Path) -> None:
        self.con = connect_with_staging(str(lake_dir))
        self.expected = {n: self.con.execute(q).df() for n, q in MART_SQL.items()}

    def close(self) -> None:
        self.con.close()

    def rows(self) -> dict[str, int]:
        return {n: len(df) for n, df in self.expected.items()}

    def check(self, marts_dir: Path) -> list[str]:
        """Compare every written mart with its oracle; return the failures."""
        failures = []
        for name, expected in self.expected.items():
            got = _read_mart(self.con, marts_dir, name)
            try:
                if got is None:
                    assert len(expected) == 0, f"no files, oracle has {len(expected)} rows"
                else:
                    assert_frames_match(got, expected, strict_dtypes=False)
            except AssertionError as e:
                failures.append(f"{name}: {str(e)[:300]}")
        return failures


class CorpusOracle:
    """The contract oracle of the streaming corpus ingest over one file."""

    def __init__(self, documents: Path) -> None:
        import __spark_entry__ as contract

        con = duckdb.connect()
        try:
            con.execute(
                f"create view documents as select * from read_parquet('{documents}')"
            )
            self.expected = con.execute(
                contract.oracle_sql()["stream_corpus_ingest"]
            ).df()
        finally:
            con.close()

    def check(self, got: pd.DataFrame) -> list[str]:
        """Hash-exact comparison: bit-equal values, matching dtype classes."""
        if len(self.expected) == 0:
            return ["oracle admitted no documents"]
        try:
            assert_frames_match(got, self.expected, rtol=0, atol=0)
        except AssertionError as e:
            return [f"stream_corpus_ingest: {str(e)[:300]}"]
        return []
