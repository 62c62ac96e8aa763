"""Query registrations, one module per operator domain; ``shared``
holds the oracle fragments and feeds that more than one domain uses."""
