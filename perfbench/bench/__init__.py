"""Python side of the graft benchmark: plan generation, metric arithmetic,
output checks and run records. See ../README.md."""
