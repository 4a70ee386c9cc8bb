"""End-to-end pipeline plans (SURVEY §3: EP1 ETL).

Each reference pipeline stage becomes a lazy DataFrame transform, and
Catalyst plans the whole chain.  EP2's dataset-assembly steps are the
registered queries ``w18_disaggregation`` (``queries/timeseries.py``)
and ``w19_unit_conversion`` (``queries/windows.py``)."""
