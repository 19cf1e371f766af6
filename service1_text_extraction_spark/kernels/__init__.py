"""Pure per-batch kernels (no Spark imports).

Every kernel has a scalar form (reference-exact, used to freeze golden
fixtures) and, where hot, a vectorized pandas/NumPy form used inside
the operator library's pandas UDFs. Scalar == vectorized is asserted by
property tests in ``tests/test_textnorm.py``. The extraction path
(``payload`` and the parsers under it, and ``arrowrows``, which builds
the extraction Arrow UDF's result) imports no pandas.
"""
