"""Plan builders: attribute-mapping projection, column scoping and
event fan-out to local types (``plans.mapping``)."""
