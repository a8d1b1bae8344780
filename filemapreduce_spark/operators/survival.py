"""Shared constant of the survival-analysis queries."""

# The observation horizon: a subject with no event by this date is
# right-censored there. The Spark plans and the oracles of
# ``queries.survival`` and ``queries.analytics6`` all censor at it, so
# the two sides cannot drift apart.
HORIZON = "2024-01-31"
