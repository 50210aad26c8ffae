"""Driver queries, one module per operator family; importing
``plans.driver_queries`` registers them all."""
