"""Pure per-batch kernels (no Spark imports).

Every kernel is one plain-Python form, reference-exact, which also
freezes the golden fixtures. The operator library calls kernels row by
row inside Arrow-batched UDFs (``chunk_text``, ``extract_turn``) or
builds Spark column expressions from their tables (``textnorm``'s
character map). The one twin is the garbage gate's ASCII fast form,
which ``tests/test_property.py`` checks equal to the general gate on
generated text. The extraction path
(``payload`` and the parsers under it, and ``arrowrows``, which builds
the extraction Arrow UDF's result) imports no pandas.
"""
